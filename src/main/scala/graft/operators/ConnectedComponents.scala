package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise dedup output (MinHash/SimHash/Jaccard joins) into
  * dedup GROUPS with one canonical document each (driver north star:
  * deduplication as a first-class pipeline stage).
  *
  * Algorithm: alternating large-star / small-star contraction (the
  * MapReduce-era two-phase scheme — each phase is one keyed shuffle: a
  * window-min over hash(vertex) computes the star minimum in the same
  * pass that re-points the edges). Every round roughly halves
  * the height of each component's pointer tree, so convergence takes
  * O(log n) rounds even on adversarial long-chain graphs — the earlier
  * min-label-propagation loop here needed O(diameter) rounds and refused
  * (threw) on chains longer than maxIter. Near-dup forests (tiny diameter)
  * still converge in 2-3 rounds; a path graph of length 200 takes ~6.
  *
  * Each round:
  *   large-star: every vertex u computes m = min(N(u) ∪ {u}) and re-points
  *               its LARGER neighbours at m — long chains shortcut toward
  *               minima without ever losing connectivity;
  *   small-star: every vertex u re-points its smaller-side neighbourhood
  *               (and itself) at its minimum — canonicalizes each tree
  *               toward a star.
  * Fixpoint = the canonical edge set stops changing (count + xxhash64
  * checksum, one tiny aggregate per round). At fixpoint every edge is
  * (vertex, component-min). `localCheckpoint` per round cuts lineage so
  * the plan does not grow with iterations; the previous round's snapshot
  * is released eagerly.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (a, b), undirected pairs
    * @param maxIter safety bound on contraction rounds; O(log n) rounds
    *                suffice, so 50 covers any physically storable graph —
    *                hitting it means something is broken, and wrong labels
    *                must never be returned silently
    * @return (id, component) — component = min vertex id reachable
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e0 = edges.toDF("a", "b")
    // vertex set BEFORE self-loop removal: a self-loop-only vertex is still
    // a (singleton) component and must appear in the output
    val vertices = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .distinct()
      .localCheckpoint()

    // Seed canonicalization matches smallStar's (greatest, least) output
    // orientation: an input that is ALREADY the fixpoint star then yields an
    // identical signature after round 1 (orientation is irrelevant to
    // correctness — largeStar symmetrizes — but a mismatched seed could
    // never equal the round-1 edge set, forcing a wasted second round).
    var e = e0.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint()

    // Canonical-edge-set checksum: order-independent, 64-bit per edge.
    // XOR (not sum) of the hashes: overflow-free under ANSI, and edges are
    // distinct so pairwise cancellation cannot occur.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = round(e).localCheckpoint()
      val nextSig = signature(next)
      // The checksum is the cheap per-round gate; equality is CONFIRMED by
      // an exact set comparison before labels are trusted — a 64-bit hash
      // coincidence must not be able to smuggle out intermediate labels
      // (the module's fail-loud contract). The exact check runs only on
      // rounds whose checksums already match, i.e. normally once.
      converged = nextSig == sig && {
        next.join(e, Seq("a", "b"), "left_anti").limit(1).count() == 0L
      }
      unpersistCheckpoint(e)
      e = next
      sig = nextSig
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "O(log n) rounds should always suffice; refusing to return " +
          "intermediate (wrong) labels")

    // Fixpoint edges are (vertex, component-min); vertices never appearing
    // on the larger side are their component's root.
    // NOTE: `vertices` and the final `e` snapshot stay persisted — the
    // returned plan reads them lazily; releasing them here would pull the
    // checkpoint blocks out from under the caller's first action.
    val nonRoot = e.select(col("a").as("id"), col("b").as("component"))
    val roots = vertices.join(nonRoot.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    nonRoot.union(roots)
  }

  // Fused half-steps (r19, VERDICT r18 item 1): the neighborhood minimum
  // comes from an unbounded window over hash(a) — ONE exchange per
  // half-step where the old groupBy-min + join-back shape paid two (the
  // join's probe side was a second full pass of the edges through its own
  // exchange). The intermediate distinct between the half-steps is dropped
  // too: smallStar's per-group minimum is duplicate-insensitive and the
  // round's final distinct canonicalizes, so each round's edge SET — and
  // therefore the convergence round and the final labels — is unchanged
  // (CC spec pins union-find equivalence; e18/e64 oracles pin the
  // end-to-end labels; the legacy loop's A/B against this one on the real
  // e18 edges, 5.65–7.53 s → 1.91–3.48 s, is in OPTIMIZATION_r19.md and
  // ran in src/main/scala/graft/CcPlan.scala at commit 94bd873).
  // 6 exchanges/round → 3. The window buffers one vertex's neighbor rows
  // per group (spillable array) — unlike a collect_list fusion it never
  // builds a single giant row for a hot vertex.
  private val byA =
    org.apache.spark.sql.expressions.Window.partitionBy(col("a"))

  private[graft] def largeStar(cur: DataFrame): DataFrame = {
    val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
    sym.withColumn("m", least(min(col("b")).over(byA), col("a")))
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b")) // (larger, its star min)
  }

  private[graft] def smallStar(cur: DataFrame): DataFrame = {
    // cur edges are (x, y); view from the larger endpoint: u -> {v < u}
    val d = cur.select(greatest(col("a"), col("b")).as("a"),
      least(col("a"), col("b")).as("b"))
    // each input row emits exactly one edge: the group's min-witness rows
    // (b = m, at least one per group) re-point the CENTER at m — the
    // union branch of the old form — while every other row re-points its
    // smaller endpoint at m. Same edge set as the old
    // join + filter + union, duplicates resolved by the round's trailing
    // distinct.
    d.withColumn("m", min(col("b")).over(byA))
      .select(when(col("b") === col("m"), col("a")).otherwise(col("b")).as("a"),
        col("m").as("b"))
  }

  /** One full contraction round over a canonical distinct edge set. */
  private[graft] def round(cur: DataFrame): DataFrame =
    smallStar(largeStar(cur)).distinct()

  /** Release the cached RDD behind a localCheckpoint'ed DataFrame. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))
}
