package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r13 array-math winnow build ([[graft.queries.TextDedup.
  * winnowLocalSelect]]) row-identical to the window-based reference
  * pipeline (`winnowHashed` → `winnowSelect`) it replaced in the hot
  * path — the two must stay interchangeable because the oracle SQL
  * mirrors the WINDOW spelling while the engine runs the ARRAY one.
  * Coverage: real corpus at both hash widths and both sweep widths,
  * plus the short-document boundary (0/2/3 tokens, exactly-one-window)
  * where the two implementations gate differently (`t2 IS NOT NULL` +
  * `cnt = w` vs sequence bounds) but must agree on emptiness.
  */
class WinnowLocalParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  import graft.queries.TextDedup

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("array build ≡ window build on the real corpus (wide, w=4)") {
    val docs = Tables.documents(spark, dir)
    val win = rows(TextDedup.winnowSelect(
      TextDedup.winnowHashed(docs, hexChars = TextDedup.WinnowWideHex),
      TextDedup.WinnowW))
    val arr = rows(TextDedup.winnowLocalSelect(docs, TextDedup.WinnowW,
      TextDedup.WinnowWideHex))
    assert(arr == win, s"diff=${(arr diff win).take(3)} / " +
      s"${(win diff arr).take(3)} (|arr|=${arr.size}, |win|=${win.size})")
    assert(arr.nonEmpty)
  }

  test("array build ≡ window build at narrow hash and other widths") {
    val docs = Tables.documents(spark, dir).limit(60)
    for (w <- Seq(2, 4, 8); hex <- Seq(4, 9)) {
      val win = rows(TextDedup.winnowSelect(
        TextDedup.winnowHashed(docs, hexChars = hex), w))
      val arr = rows(TextDedup.winnowLocalSelect(docs, w, hex))
      assert(arr == win, s"w=$w hex=$hex: |arr|=${arr.size}, " +
        s"|win|=${win.size}, diff=${(arr diff win).take(3)}")
    }
  }

  test("short-document boundary: <3 tokens and <w windows emit nothing; " +
      "exactly w windows emit on both") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, "a"), (3L, "a b"),
      (4L, "a b c"),            // 1 shingle < w windows
      (5L, "a b c d e"),        // 3 shingles < w=4 windows
      (6L, "a b c d e f g h"))  // 6 shingles → 3 full w=4 windows
      .toDF("doc_id", "text")
    val w = TextDedup.WinnowW
    val win = rows(TextDedup.winnowSelect(
      TextDedup.winnowHashed(docs, hexChars = 9), w))
    val arr = rows(TextDedup.winnowLocalSelect(docs, w, 9))
    assert(arr == win, s"arr=$arr win=$win")
    assert(arr.forall(_._1 == 6L), s"only doc 6 has a full window: $arr")
    assert(arr.nonEmpty)
  }

  test("the selection-array helper matches per-doc brute force " +
      "(distinct min over every w-window)") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val got = rows(TextDedup.winnowLocalSelect(
      Seq((9L, text)).toDF("doc_id", "text"), 4, 9)).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = text.split(" ").sliding(3).map { sh =>
      md.reset()
      java.lang.Long.parseLong(md.digest(sh.mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(9), 16)
    }.toArray
    val f = TextDedup.WinnowPosField
    val want = (0 to hs.length - 4).map { i =>
      (i until i + 4).map(j => hs(j) * f + (f - 1L - j)).min / f
    }.toSet
    assert(got == want)
  }
}
