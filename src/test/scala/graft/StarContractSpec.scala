package graft

import graft.queries.TextDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The d8 connected-components engine: alternating large-star/small-star
  * contraction must converge in O(log n) rounds where plain min-label
  * propagation needs diameter rounds — that difference is what makes
  * graph dedup viable on lake-scale chains.
  */
class StarContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Force the DISTRIBUTED rounds (r18: edge sets under
    * `spark.graft.star.driverMaxEdges` finish driver-side in 0 rounds,
    * which would make the O(log n) pin vacuous at test scale).
    */
  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.graft.star.driverMaxEdges", "0")
    try body
    finally spark.conf.unset("spark.graft.star.driverMaxEdges")
  }

  test("1000-node path graph converges in O(log n) rounds, not ~999") {
    import spark.implicits._
    val nodes = spark.range(0, 1000).toDF("id")
    val edges = spark.range(0, 999)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (labels, rounds) =
      distributed(TextDedup.starContractComponents(nodes, edges))
    // distance to the minimum halves per round: ~log2(999)+settle ≈ 11
    assert(rounds > 0 && rounds <= 14,
      s"took $rounds rounds — min-label propagation needs ~999 here")
    val comps = labels.select(col("component")).distinct().as[Long].collect()
    assert(comps.toSeq == Seq(0L), s"components ${comps.toSeq}")
    assert(labels.count() == 1000)
  }

  test("driver union-find finish ≡ distributed fixpoint, label for label") {
    import spark.implicits._
    // adversarial mix: a long path (deep tree), a star, singletons,
    // duplicate + reversed edges, and non-contiguous ids
    val rnd = new scala.util.Random(7)
    val path = (0 until 400).map(i => (i * 3L, i * 3L + 3L))
    val star = (1 to 50).map(i => (9000L + i, 9000L))
    val dupRev = Seq((3L, 0L), (0L, 3L), (9001L, 9000L))
    val rand = (0 until 200).map(_ =>
      (rnd.nextInt(500).toLong * 7 + 100000, rnd.nextInt(500).toLong * 7 + 100000))
    val edges = (path ++ star ++ dupRev ++ rand).toDF("src", "dst")
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .union(Seq(777777L).toDF("id")).distinct()
    val (viaDriver, dRounds) =
      TextDedup.starContractComponents(nodes, edges)
    assert(dRounds == 0, s"expected the driver finish, ran $dRounds rounds")
    val (viaRounds, _) =
      distributed(TextDedup.starContractComponents(nodes, edges))
    val d = viaDriver.as[(Long, Long)].collect().toMap
    val r = viaRounds.as[(Long, Long)].collect().toMap
    assert(d == r, s"driver finish diverged: ${
      d.toSeq.sorted.zip(r.toSeq.sorted).filter(p => p._1 != p._2).take(5)}")
    assert(d(777777L) == 777777L) // singleton untouched by either path
  }

  test("mixed components, singletons, and arbitrary edge orientation") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 20L).toDF("id")
    // orientations deliberately mixed; (2,1) duplicates (1,2)
    val edges = Seq((1L, 0L), (2L, 1L), (1L, 2L), (11L, 10L)).toDF("src", "dst")
    val (labels, _) = TextDedup.starContractComponents(nodes, edges)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), got.toString)
  }

  test("running out of rounds throws instead of emitting a partial labeling") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      TextDedup.starContractComponents(nodes, edges, maxRounds = 0)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("a malformed or negative driverMaxEdges conf fails naming the key") {
    import spark.implicits._
    val nodes = Seq(0L, 1L).toDF("id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    for (bad <- Seq("2M", "-1")) {
      spark.conf.set("spark.graft.star.driverMaxEdges", bad)
      val e =
        try intercept[IllegalArgumentException] {
          TextDedup.starContractComponents(nodes, edges)
        }
        finally spark.conf.unset("spark.graft.star.driverMaxEdges")
      assert(e.getMessage.contains("driverMaxEdges") &&
        e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("empty edge set: every node is its own component in zero rounds") {
    import spark.implicits._
    val nodes = Seq(5L, 7L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (labels, rounds) = TextDedup.starContractComponents(nodes, edges)
    assert(rounds == 0)
    assert(labels.as[(Long, Long)].collect().toMap == Map(5L -> 5L, 7L -> 7L))
  }
}
