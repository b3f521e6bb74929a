package graft

import graft.queries.GraphOps
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed hash-min + pointer-jumping loop behind
  * q101_dedup_components on synthetic graphs where the answer is computable
  * by hand — in particular a long CHAIN, the worst case for label
  * propagation (transitive near-dups: A≈B≈C…); the chain's diameter
  * exceeds what a couple of rounds can cover, so this exercises the
  * multi-round convergence + jump path end to end, independent of the
  * simhash edge generator the oracle gate goes through.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkFixture {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(edges.toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // ids deliberately out of order so the min sits mid-chain and labels
  // must flow BOTH directions across ~20 hops
  private val chainIds = Seq(40L, 12, 33, 7, 25, 3, 18, 29, 5, 44, 21, 9,
    36, 14, 2, 27, 48, 11, 31, 16, 42)

  test("long chain collapses to one component labelled by its min") {
    val got = cc(chainIds.zip(chainIds.tail))
    assert(got.keySet == chainIds.toSet)
    assert(got.values.toSet == Set(2L))
  }

  test("hitting the round cap unconverged fails loudly, naming cap and " +
    "count") {
    import spark.implicits._
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(
        chainIds.zip(chainIds.tail).toDF("da", "db"), maxRounds = 1)
    }
    assert(e.getMessage.contains("1-round cap"), e.getMessage)
    assert("""with \d+ labels still changing""".r
      .findFirstIn(e.getMessage).isDefined, e.getMessage)
  }

  test("disjoint components get distinct min labels; singletons absent") {
    val edges = Seq((10L, 20L), (20L, 30L), (100L, 101L), (7L, 7L))
    val got = cc(edges)
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      100L -> 100L, 101L -> 100L, 7L -> 7L))
  }

  test("empty edge list yields empty labels") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("triangle plus pendant — cycles do not prevent convergence") {
    val got = cc(Seq((5L, 6L), (6L, 8L), (8L, 5L), (8L, 1L)))
    assert(got.values.toSet == Set(1L) && got.keySet == Set(1L, 5L, 6L, 8L))
  }

  test("reliable mode without a checkpoint dir fails loudly") {
    // A misconfigured cluster run must not silently fall back to the
    // executor-pinned path; guard the error message, not just the throw.
    // Declared BEFORE the happy-path test: the SparkContext is shared
    // process-wide and setCheckpointDir is irreversible, so this must run
    // while the dir is still unset (guarded in case suite order changes).
    val fresh = spark.newSession()
    fresh.conf.set(GraphOps.ReliableCheckpointConf, "true")
    if (fresh.sparkContext.getCheckpointDir.isEmpty) {
      import fresh.implicits._
      val e = intercept[IllegalStateException] {
        GraphOps.connectedComponents(Seq((1L, 2L)).toDF("da", "db")).collect()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  test("reliable-checkpoint mode (cluster posture) matches localCheckpoint") {
    // spark.graft.cc.reliableCheckpoint=true routes every round's lineage
    // cut through fault-tolerant checkpoint() instead of executor-pinned
    // localCheckpoint() — the mode a real cluster runs, where a lost
    // executor must not strand the loop. Exercise the multi-round chain
    // (the convergence-metric read must survive the different cut path)
    // and assert identical labels.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    dir.toFile.deleteOnExit()
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(GraphOps.ReliableCheckpointConf, "true")
    try {
      val ids = Seq(40L, 12, 33, 7, 25, 3, 18, 29, 5, 44, 21, 9, 36, 14, 2)
      val got = cc(ids.zip(ids.tail))
      assert(got.keySet == ids.toSet)
      assert(got.values.toSet == Set(2L))
    } finally spark.conf.unset(GraphOps.ReliableCheckpointConf)
  }
}
