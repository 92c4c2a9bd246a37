package graft.operators

import org.apache.spark.sql.streaming.GroupState

/** Streaming sequence packing — e68's concat-and-chunk as a stateful
  * stream (d21): documents arrive as files, and each trigger extends
  * every source's token stream, emitting each fixed-length window the
  * moment it fills. The carry between triggers is the ONLY state: the
  * under-L tail of the source's token stream plus the next sequence
  * number — strictly less than L tokens per key, regardless of corpus
  * size or stream length. Per-trigger memory is the arriving batch plus
  * that bounded carry.
  *
  * Sequencing is per SOURCE (the shard key a production packer uses):
  * a global single stream would serialize on one state key, while
  * per-source packing keeps every property of the batch op (each
  * source's sequences are the doc_id-ordered concat chunked by L,
  * partial tails dropped) and parallelizes over keys. Batch parity
  * therefore needs docs to arrive in doc_id order per source — the d21
  * fixture range-partitions files by doc_id with increasing mtimes
  * (the file source processes oldest-first), and within a trigger the
  * group buffers and sorts its rows (bounded by the trigger's arrivals
  * for that key).
  */
object StreamPack {

  val L = 128

  /** Carry state: the under-L token tail + next sequence number. */
  case class Carry(rest: Seq[String], next: Long)

  /** flatMapGroupsWithState body: (doc_id, source, text) rows for one
    * source → (source, seq_no, space-joined L tokens) per filled window.
    */
  def pack(source: String, rows: Iterator[(Long, String, String)],
      state: GroupState[Carry]): Iterator[(String, Long, String)] = {
    val carry = state.getOption.getOrElse(Carry(Nil, 0L))
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    buf ++= carry.rest
    var next = carry.next
    val emitted = List.newBuilder[(String, Long, String)]
    // buffer + sort: bounded by this trigger's arrivals for this key
    rows.toSeq.sortBy(_._1).foreach { case (_, _, text) =>
      buf ++= text.split(" ")
      buf += "</s>"
    }
    var off = 0
    while (buf.length - off >= L) {
      emitted += ((source, next, buf.slice(off, off + L).mkString(" ")))
      next += 1
      off += L
    }
    state.update(Carry(buf.drop(off).toSeq, next))
    emitted.result().iterator
  }
}
