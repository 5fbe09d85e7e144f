package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The iterative operators on [[Fixpoint]]: each releases every cut
  * and cache its result does not read, and each runs the jobs its
  * loop's accounting predicts.
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // star around hub 1 plus a chain, both directions
  private def star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
    .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
  // a triangle with a pendant, both directions
  private def pendant = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
  private def weighted = Seq(
      (1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
    .toDF("src", "dst", "w")
  private def seed = Seq(1L).toDF("node")

  private def matches = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"),
    ("a", "c"), ("c", "a")).toDF("winner", "loser")

  // (operator, RDDs its result may keep pinned, run)
  private val runs: Seq[(String, Int, () => DataFrame)] = Seq(
    ("PageRank", 1, () => PageRank.microPageRank(star, 8,
      convergeCheckEvery = 4)),
    ("personalized PageRank", 1, () => PageRank.microPersonalizedPageRank(
      star, seed, 6, convergeCheckEvery = 3)),
    ("Hits", 1, () => Hits.microHits(star, 4)),
    ("KCore", 1, () => KCore.coreMembers(pendant, k = 2, rounds = 8)),
    ("ShortestPaths", 1, () => ShortestPaths.bounded(weighted, seed, 4)),
    ("unit-weight ShortestPaths", 1, () => ShortestPaths.bounded(
      star.withColumn("w", lit(1L)), seed, 4)),
    ("LabelPropagation", 1, () => LabelPropagation.propagate(star, 4)),
    // the lazy result reads the pair and item frames besides its cut
    ("BradleyTerry", 3, () => BradleyTerry.ratings(matches, "winner", "loser", 4)))

  test("every iterative graph operator leaves only its result pinned") {
    for ((name, pins, run) <- runs) {
      val left = TestSpark.pinnedBy(run().count())
      assert(left <= pins, s"$name left $left RDDs persisted")
    }
  }

  // Fixpoint's accounting: setup, one action per cut, one per probe;
  // under AQE every broadcast and shuffle stage of an action is a job
  // of its own, so the pins are per fixture.
  test("job counts follow the Fixpoint accounting") {
    var tag = 0
    def jobs(f: => DataFrame) = {
      tag += 1
      TestSpark.withJobs(s"fixpoint-$tag")(f)._2
    }
    // 8 rounds at cadence 4, no fixed point: 2 cuts, 1 probe
    assert(jobs(PageRank.microPageRank(star, 8, convergeCheckEvery = 4)) == 24)
    // round 1 peels node 4, round 2 peels nobody: 2 cuts, 2 probes
    assert(jobs(KCore.coreMembers(pendant, k = 2, rounds = 8)) == 17)
    // hop 2 from seeds 1 and 4 reaches nothing new: 2 cuts, 2 probes
    assert(jobs(ShortestPaths.bounded(star.withColumn("w", lit(1L)),
      Seq(1L, 4L).toDF("node"), 4)) == 14)
    // 4 rounds at cadence 4, no probe: 1 cut
    assert(jobs(LabelPropagation.propagate(star, 4)) == 19)
  }
}
