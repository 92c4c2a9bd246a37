package graft

import org.apache.spark.sql.functions.udf

/** Deterministic text-pipeline primitives (SURVEY.md §2 block E).
  *
  * Everything here is pure Scala with an owned hash family (FNV-1a 64) so
  * results are reproducible across engines, rounds and JVMs — the MinHash /
  * SimHash goldens depend on that (SURVEY.md §7 hard-part 2). No third-party
  * deps beyond the Spark classpath.
  */
object TextFunctions extends Serializable {

  // ---- owned 64-bit hash (FNV-1a), basis of every sketch below -----------
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv1a64(s: String): Long = {
    var h = FnvOffset
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** MinHash permutation family: h_i(x) = (a_i * x + b_i) mod p, fixed
    * (a,b) derived from the seed by splitmix64 — deterministic, documented,
    * independently re-implementable in the committed python golden script.
    */
  final val MersennePrime = (1L << 61) - 1
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def hashParams(k: Int): Array[(Long, Long)] =
    (0 until k).map { i =>
      val a = (splitmix64(2 * i + 1).abs % (MersennePrime - 1)) + 1
      val b = splitmix64(2 * i + 2).abs % MersennePrime
      (a, b)
    }.toArray

  /** Character shingles (k consecutive chars) of whitespace-normalized text. */
  def shingles(text: String, k: Int): Array[String] = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    if (norm.length < k) Array(norm)
    else norm.sliding(k).toArray
  }

  // the standard 128-perm family, computed once per JVM (hashParams per
  // call would allocate 128 tuples per ROW in the minhash UDF); flat a/b
  // copies for the hot loop (a Tuple2 deref per perm per shingle is real
  // cost at 128 perms x hundreds of shingles per document)
  @transient private lazy val params128: Array[(Long, Long)] = hashParams(128)
  @transient private lazy val paramsA128: Array[Long] = params128.map(_._1)
  @transient private lazy val paramsB128: Array[Long] = params128.map(_._2)

  /** MinHash signature over char-shingles.
    *
    * r18 optimization (hot path of e02/e38/d10/d15 — guide §1.2 per-task
    * work), three changes with BIT-IDENTICAL output (MinHashSpec goldens +
    * the independent-Python fixture oracles pin it):
    *  - shingle hashes are computed by a direct char walk over the
    *    normalized string (same FNV-1a stream) instead of allocating one
    *    String per shingle via `sliding`;
    *  - the whitespace collapse is a single pass instead of a per-document
    *    `replaceAll` (Java \s is exactly [ \t\n\x0B\f\r]; the final .trim
    *    keeps the original's handling of non-\s control chars at the ends);
    *  - shingle hashes are sorted + deduplicated before the perm loop —
    *    minhash is a SET sketch, so duplicate shingles can never change
    *    any minimum, and the 128-perm inner loop runs once per DISTINCT
    *    shingle (repetitive text is exactly where the old form burned the
    *    most CPU).
    */
  def minhash(text: String, numPerm: Int, shingleK: Int): Array[Long] = {
    val (pa, pb) =
      if (numPerm == 128) (paramsA128, paramsB128)
      else { val p = hashParams(numPerm); (p.map(_._1), p.map(_._2)) }
    // whitespace-collapse, same value as toLowerCase.replaceAll("\\s+", " ").trim
    val lower = text.toLowerCase
    val ln = lower.length
    val sb = new java.lang.StringBuilder(ln)
    var ci = 0
    var inWs = false
    while (ci < ln) {
      val c = lower.charAt(ci)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      if (ws) { if (!inWs) sb.append(' '); inWs = true }
      else { sb.append(c); inWs = false }
      ci += 1
    }
    val norm = sb.toString.trim
    val n = norm.length
    val m = if (n < shingleK) 1 else n - shingleK + 1
    val xs = new Array[Long](m)
    if (n < shingleK) xs(0) = fnv1a64(norm) & Long.MaxValue
    else {
      var s = 0
      while (s < m) {
        var h = FnvOffset
        var j = s
        val e = s + shingleK
        while (j < e) { h ^= norm.charAt(j).toLong; h *= FnvPrime; j += 1 }
        xs(s) = h & Long.MaxValue // non-negative
        s += 1
      }
    }
    java.util.Arrays.sort(xs)
    var u = 0
    var t = 0
    while (t < m) {
      if (t == 0 || xs(t) != xs(t - 1)) { xs(u) = xs(t); u += 1 }
      t += 1
    }
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var s = 0
    while (s < u) {
      val x = xs(s)
      var i = 0
      while (i < numPerm) {
        val a = pa(i)
        // (a*x+b) mod p, p = 2^61-1: 128-bit product via multiplyHigh,
        // then the standard Mersenne fold
        val hi = Math.multiplyHigh(a, x)
        val lo = a * x
        val prod = ((lo & MersennePrime) + ((lo >>> 61) | (hi << 3))) // < ~2^62
        val folded = (prod & MersennePrime) + (prod >>> 61)
        val hx = (folded + pb(i)) % MersennePrime
        if (hx < sig(i)) sig(i) = hx
        i += 1
      }
      s += 1
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.toLowerCase.split("\\s+").foreach { tok =>
      if (tok.nonEmpty) {
        val h = fnv1a64(tok)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ---- byte-pair encoding (real merges, not the regex approximation) ----
  //
  // The public BPE algorithm (Sennrich et al. 2015; the GPT-2 encoder's
  // greedy form): TRAIN derives a ranked merge table from word
  // frequencies; ENCODE applies merges lowest-rank-first until none apply.
  // Both are deterministic: training ties break by lexicographic pair
  // order, so the same corpus always yields the same table.

  /** Train `nMerges` merges from a word→frequency map. Each merge is the
    * currently most frequent adjacent symbol pair (ties: lexicographically
    * smallest pair), applied everywhere before the next count.
    */
  def bpeTrain(wordFreq: Map[String, Long], nMerges: Int): Vector[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val merges = Vector.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => (mergePair(syms, best), f) }
        i += 1
      }
    }
    merges.result()
  }

  private def mergePair(syms: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += (p._1 + p._2); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Encode one word with a trained table: repeatedly apply the
    * LOWEST-RANK applicable merge (the GPT-2 greedy loop). Symbols that
    * never appear in the table stay as single characters — unseen input
    * degrades to characters, it never fails.
    */
  def bpeEncode(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var continue = syms.length > 1
    while (continue) {
      var best = -1
      var bestRank = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = j }
        j += 1
      }
      if (best < 0) continue = false
      else {
        syms = mergePair(syms, (syms(best), syms(best + 1)))
        if (syms.length < 2) continue = false
      }
    }
    syms
  }

  // ---- WordPiece (the BERT tokenizer family; Schuster & Nakajima 2012,
  // Devlin et al. 2018) ----
  //
  // TRAIN follows the published likelihood-gain rule (the form the
  // HuggingFace tokenizers library documents): starting from characters
  // (continuations ##-prefixed), repeatedly merge the adjacent pair
  // maximizing count(ab) / (count(a) · count(b)) — pair frequency
  // normalized by part frequencies, which is what distinguishes
  // WordPiece training from BPE's raw-count rule. ENCODE is BERT's
  // greedy longest-match-first walk; a word with any unmatchable
  // position becomes [UNK] wholesale (the BERT rule). Both are
  // deterministic: score ties break lexicographically by pair, and
  // scores compare by exact Long cross-multiplication, never floats.

  /** Train from a word→frequency map. Returns the vocabulary: all base
    * symbols (first-position chars and ##-continuations) plus one piece
    * per merge, in creation order. Pieces longer than `maxPieceLen` raw
    * characters are never created (keeps the encoder's bounded
    * longest-match window exact).
    */
  def wordpieceTrain(wordFreq: Map[String, Long], nMerges: Int,
      maxPieceLen: Int = 12): Vector[String] = {
    def rawLen(sym: String): Int =
      if (sym.startsWith("##")) sym.length - 2 else sym.length
    var words: Map[Vector[String], Long] = wordFreq.filter(_._1.nonEmpty)
      .map { case (w, f) =>
        w.toVector.zipWithIndex.map { case (c, i) =>
          if (i == 0) c.toString else "##" + c
        } -> f
      }
    // the exact Long score comparison below multiplies three counts each
    // bounded by the total symbol-instance count F; F ≤ 2·10⁶ keeps
    // F³ < 2⁶³. Training is a bounded-sample operation by contract
    // (sample the corpus first at scale) — fail loudly rather than let
    // the cross-multiplication wrap and silently invert merge decisions.
    val totalSyms = words.iterator.map { case (w, f) => f * w.length }.sum
    require(totalSyms <= 2000000L,
      s"wordpieceTrain: $totalSyms symbol instances exceed the exact-Long " +
        "scoring bound (2e6) — train on a corpus sample")
    val base = words.keys.flatten.toVector.distinct.sorted
    val pieces = Vector.newBuilder[String]
    pieces ++= base
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val pairCount = scala.collection.mutable.Map.empty[(String, String), Long]
      val symCount = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (syms, f) =>
        syms.foreach(s => symCount(s) = symCount.getOrElse(s, 0L) + f)
        var j = 0
        while (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          pairCount(p) = pairCount.getOrElse(p, 0L) + f
          j += 1
        }
      }
      val candidates = pairCount.toSeq.filter { case ((a, b), _) =>
        rawLen(a) + rawLen(b) <= maxPieceLen
      }
      if (candidates.isEmpty) done = true
      else {
        // maximize c/(fa·fb): compare c1·fa2·fb2 vs c2·fa1·fb1 exactly
        val best = candidates.reduceLeft { (x, y) =>
          val ((xa, xb), xc) = x
          val ((ya, yb), yc) = y
          val lhs = xc * symCount(ya) * symCount(yb)
          val rhs = yc * symCount(xa) * symCount(xb)
          if (lhs > rhs) x
          else if (lhs < rhs) y
          else if (xa < ya || (xa == ya && xb <= yb)) x else y
        }._1
        val merged = best._1 + (if (best._2.startsWith("##")) best._2.substring(2) else best._2)
        pieces += merged
        words = words.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += merged; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.result(), f)
        }
        i += 1
      }
    }
    pieces.result().distinct
  }

  /** BERT greedy longest-match encode: at each position take the longest
    * vocabulary piece (≤ `maxPieceLen` raw chars, ## prefix after the
    * first position); any unmatchable position makes the whole word
    * [UNK]. Empty input → no pieces.
    */
  def wordpieceEncode(word: String, vocab: Set[String],
      maxPieceLen: Int = 12): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    var pos = 0
    while (pos < word.length) {
      var len = math.min(maxPieceLen, word.length - pos)
      var found: String = null
      while (len >= 1 && found == null) {
        val cand = (if (pos == 0) "" else "##") + word.substring(pos, pos + len)
        if (vocab.contains(cand)) found = cand
        else len -= 1
      }
      if (found == null) return Vector("[UNK]")
      out += found
      pos += len
    }
    out.result()
  }

  // ---- Unigram LM (the SentencePiece tokenizer family; Kudo 2018,
  // arXiv:1804.10959) ----
  //
  // TRAIN is unigram-LM estimation: a bounded seed vocabulary of frequent
  // substrings, EM over the full segmentation lattice (forward–backward
  // expected counts — the published E-step), and iterative pruning of the
  // lowest-probability multi-character pieces until the target size
  // (probability-mass pruning — a deterministic simplification of Kudo's
  // leave-one-out loss pruning; single characters are never pruned, so
  // coverage stays total). Training floats never cross an engine
  // boundary: the emitted vocabulary carries INTEGER costs
  // round(−1000·ln p) (milli-nats), and ENCODE is exact integer-cost
  // Viterbi — min total cost, ties by fewer pieces then lexicographic
  // piece sequence — so Spark and the DuckDB oracle compare integers and
  // ASCII strings only. EM accumulation iterates words and pieces in
  // sorted order, so the double summation order (hence the trained
  // vocabulary) is bit-reproducible run to run.

  /** Train from a word→frequency map; returns (piece, cost) sorted by
    * piece. All corpus characters are always present; at most
    * `vocabSize − #chars` multi-char pieces survive pruning.
    */
  def unigramTrain(wordFreq: Map[String, Long], vocabSize: Int,
      maxPieceLen: Int = 6, emIters: Int = 2): Vector[(String, Int)] = {
    val words = wordFreq.filter(_._1.nonEmpty).toVector.sortBy(_._1)
    val seedCount = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var L = 1
        while (L <= maxPieceLen && i + L <= w.length) {
          val p = w.substring(i, i + L)
          seedCount(p) = seedCount.getOrElse(p, 0L) + f
          L += 1
        }
        i += 1
      }
    }
    val chars = seedCount.keysIterator.filter(_.length == 1).toVector.sorted
    val multiSeed = seedCount.toVector.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }
      .take(vocabSize * 4) // bounded seed, the SentencePiece shape
      .map(_._1)
    var pieces: Vector[String] = (chars ++ multiSeed).sorted
    var prob: Map[String, Double] = {
      val tot = pieces.iterator.map(seedCount(_)).sum.toDouble
      pieces.map(p => p -> seedCount(p) / tot).toMap
    }
    def emRound(): Unit = {
      val expected = scala.collection.mutable.Map.empty[String, Double]
      val pset = prob
      words.foreach { case (w, f) =>
        val n = w.length
        val alpha = new Array[Double](n + 1)
        val beta = new Array[Double](n + 1)
        alpha(0) = 1.0
        var j = 1
        while (j <= n) {
          var L = 1
          var a = 0.0
          while (L <= maxPieceLen && L <= j) {
            val pc = pset.get(w.substring(j - L, j))
            if (pc.isDefined) a += alpha(j - L) * pc.get
            L += 1
          }
          alpha(j) = a
          j += 1
        }
        beta(n) = 1.0
        var k = n - 1
        while (k >= 0) {
          var L = 1
          var b = 0.0
          while (L <= maxPieceLen && k + L <= n) {
            val pc = pset.get(w.substring(k, k + L))
            if (pc.isDefined) b += pc.get * beta(k + L)
            L += 1
          }
          beta(k) = b
          k -= 1
        }
        val z = alpha(n)
        if (z > 0) {
          var i = 0
          while (i < n) {
            var L = 1
            while (L <= maxPieceLen && i + L <= n) {
              val piece = w.substring(i, i + L)
              val pc = pset.get(piece)
              if (pc.isDefined && pc.get > 0) {
                val e = f * alpha(i) * pc.get * beta(i + L) / z
                if (e > 0)
                  expected(piece) = expected.getOrElse(piece, 0.0) + e
              }
              L += 1
            }
            i += 1
          }
        }
      }
      val tot = pieces.iterator.map(p => expected.getOrElse(p, 0.0)).sum
      prob = pieces.map { p =>
        p -> (if (tot > 0) expected.getOrElse(p, 0.0) / tot
              else 1.0 / pieces.length)
      }.toMap
    }
    var guard = 0
    while (pieces.length > vocabSize && guard < 64) {
      guard += 1
      (0 until emIters).foreach(_ => emRound())
      val multi = pieces.filter(_.length > 1)
      // shrink the multi-char set at most 20% per round (gradual, the
      // SentencePiece schedule), never below the final target
      val target = math.max(vocabSize - chars.length, multi.length * 4 / 5)
      val kept = multi.sortBy(p => (-prob(p), p)).take(math.max(0, target))
      pieces = (chars ++ kept).sorted
    }
    (0 until emIters).foreach(_ => emRound())
    pieces.map { p =>
      val pr = math.max(prob(p), 1e-12) // floor: a zero-mass survivor stays encodable
      p -> math.max(0, math.round(-1000.0 * math.log(pr)).toInt)
    }
  }

  /** Exact integer-cost Viterbi segmentation: minimize total cost, then
    * piece count, then the space-joined piece sequence lexicographically
    * (the separator sorts below every piece character, so prefix-path
    * order is preserved under any common suffix — which is what makes
    * per-position DP exact for this tie-break). Returns None when some
    * position is uncoverable (a character outside the vocabulary): the
    * word is [UNK] wholesale, the encoder never fails.
    */
  def unigramEncode(word: String, cost: Map[String, Int],
      maxPieceLen: Int = 6): Option[Vector[String]] = {
    if (word.isEmpty) return Some(Vector.empty)
    val n = word.length
    val bestCost = Array.fill(n + 1)(Long.MaxValue)
    val bestCnt = Array.fill(n + 1)(Int.MaxValue)
    val bestStr = new Array[String](n + 1)
    val bestPieces = new Array[List[String]](n + 1)
    bestCost(0) = 0L; bestCnt(0) = 0; bestStr(0) = ""; bestPieces(0) = Nil
    var j = 1
    while (j <= n) {
      var L = 1
      while (L <= maxPieceLen && L <= j) {
        if (bestStr(j - L) != null) {
          val piece = word.substring(j - L, j)
          val c = cost.get(piece)
          if (c.isDefined) {
            val nc = bestCost(j - L) + c.get
            val ncnt = bestCnt(j - L) + 1
            val nstr =
              if (bestStr(j - L).isEmpty) piece
              else bestStr(j - L) + " " + piece
            val better = bestStr(j) == null ||
              nc < bestCost(j) ||
              (nc == bestCost(j) && (ncnt < bestCnt(j) ||
                (ncnt == bestCnt(j) && nstr < bestStr(j))))
            if (better) {
              bestCost(j) = nc; bestCnt(j) = ncnt; bestStr(j) = nstr
              bestPieces(j) = piece :: bestPieces(j - L)
            }
          }
        }
        L += 1
      }
      j += 1
    }
    if (bestStr(n) == null) None else Some(bestPieces(n).reverse.toVector)
  }

  /** Rolling-hash document fingerprint (polynomial, base 257 mod 2^64). */
  def fingerprint64(text: String): Long = {
    var h = 0L
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    var i = 0
    while (i < norm.length) { h = h * 257L + norm.charAt(i).toLong; i += 1 }
    h
  }

  /** n-gram heuristic language ID for {en,fr,es,de,zh} (SURVEY.md §2 E6).
    * CJK codepoints → zh; otherwise vote by language marker tokens/digraphs.
    * Capability demo (documents.lang is ground truth for evaluation; the
    * heuristic itself is GOLDEN-tested, not oracle-paired).
    */
  private val markers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "un", "una", "es", "que"),
    "de" -> Set("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "zu"))

  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    if (text.exists(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN)) return "zh"
    val toks = text.toLowerCase.split("\\s+")
    val scores = markers.view.mapValues(m => toks.count(m.contains)).toMap
    val (best, n) = scores.maxBy { case (l, c) => (c, -l.head.toInt) }
    if (n == 0) "en" else best
  }

  // ---- registration -------------------------------------------------------
  val minhash128F: String => Array[Long] = (t: String) =>
    if (t == null) null else minhash(t, 128, 5)
  val simhashF: String => java.lang.Long = (t: String) =>
    if (t == null) null else simhash64(t)
  val fingerprintF: String => java.lang.Long = (t: String) =>
    if (t == null) null else fingerprint64(t)
  val langIdF: String => String = langId _
  val hash64F: String => java.lang.Long = (t: String) =>
    if (t == null) null else fnv1a64(t)

  val minhash128 = udf(minhash128F)
  val simhash = udf(simhashF)
  val fingerprint = udf(fingerprintF)
  val lang_id = udf(langIdF)
  val hash64 = udf(hash64F)

  // multimodal perceptual features (operators.Multimodal decoders) on the
  // SQL surface: NULL for undecodable/out-of-envelope content, matching
  // the Option contract of the underlying decoders
  val imageAHashF: Array[Byte] => java.lang.Long = b =>
    graft.operators.Multimodal.imageAHash64(b).map(java.lang.Long.valueOf).orNull
  val audioEnvelopeHashF: Array[Byte] => java.lang.Long = b =>
    graft.operators.Multimodal.audioEnvelopeHash64(b).map(java.lang.Long.valueOf).orNull
  val imageThumbF: Array[Byte] => Array[Double] = b =>
    graft.operators.Multimodal.imageThumb64(b).orNull
}
