package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operator pins. */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("winnow-ledger maintainer: merge-k equals the from-scratch " +
      "closure over the emitted edge log even when the posting cap " +
      "BINDS (cap = 2) — the multi-drop algebra, r14 verdict " +
      "directive 4") {
    import graft.queries.TextDedup
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    // cap = 2: the StreamingSpec replay pin runs in the cap-free regime
    // (no sf0.001 posting list reaches 256); this leg forces eviction
    // on every shared fingerprint so the algebra is proven exactly
    // where it could plausibly break — a doc evicted from a posting
    // list between drops keeps the edges it already emitted (the edge
    // log is the contract; connectivity only grows)
    val m = new graft.streaming.CorpusStreams.WinnowLedgerMaintainer(
      standing, cap = 2, auditEdges = true)
    (0 until 3).foreach { i =>
      m.mergeBatch(inc.filter((col("doc_id") / 5) % 3 === i))
    }
    val merged = m.currentLedger.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recomputed = m.recomputedLedger.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == recomputed,
      s"diff=${(merged.toSet diff recomputed.toSet).take(5)} / " +
        s"${(recomputed.toSet diff merged.toSet).take(5)}")
    // the pin is only meaningful if cap = 2 actually binds here AND
    // real components formed across the merge path
    val maxDf = TextDedup
      .winnowLocalSelect(docs, TextDedup.WinnowW, TextDedup.WinnowWideHex)
      .groupBy(col("fp")).count()
      .agg(org.apache.spark.sql.functions.max(col("count"))).head.getLong(0)
    assert(maxDf > 2, s"cap never bound (max df = $maxDf)")
    assert(merged.exists { case (id, comp) => id != comp },
      "no nontrivial component formed — the fixture lost its duplicates")
    assert(merged.size == docs.count())
    // min-k of (previous min-k ∪ new) = min-k of the union: after the
    // merges, under eviction, the capped postings are row-for-row the
    // from-scratch capped index over every document
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val fromScratch = rows(TextDedup.winnowCapped(TextDedup
      .winnowLocalSelect(docs, TextDedup.WinnowW, TextDedup.WinnowWideHex),
      2))
    assert(fromScratch.nonEmpty)
    assert(rows(m.currentPostings) == fromScratch,
      "maintained capped postings diverged from the from-scratch index")
  }
}
