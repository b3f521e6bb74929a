package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Harness` is the only place a session is built, the host load is
  * sampled and a query's scratch is torn down. The first test checks the
  * session it builds; the second keeps the copies it replaced from coming
  * back, by scanning the sources. */
class HarnessSpec extends AnyFunSuite {

  test("Harness.session: UTC, v2 bucketing on, shuffle partitions = cpus, " +
    "graft extensions applied") {
    // A fresh session (extensions apply at session construction), so
    // getOrCreate must not hand back the shared fixture session.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Harness.session(3)
    try {
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.sources.v2.bucketing.enabled") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      // graft_dot is injected by GraftExtensions, not registered per query
      assert(s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0) == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** What only Harness.scala may contain. The regexes are written so that
    * this file's own source does not match them. */
  private val owned = Seq(
    "a session builder" -> """SparkSession\s*\.\s*builder""".r,
    "the teardown sweep (an unpersist over getPersistentRDDs)" ->
      """(?s)getPersistentRDDs.{0,300}?\.unpersist\(""".r,
    "a calibrate" -> """\bdef\s+calibrate\b""".r,
    "a teardown" -> """\bdef\s+teardown\b""".r,
    "a median" -> """\bdef\s+median\b""".r)

  /** file name → (what it may contain, why). */
  private val allowed = Map(
    "Artifacts.scala" -> ("the teardown sweep (an unpersist over " +
      "getPersistentRDDs)", "it unpersists only its own pins: a scoped " +
      "build's scratch and, in clearAll, the artifacts themselves"))

  test("no session builder, teardown sweep, calibrate, teardown or median " +
    "outside Harness.scala") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "Harness.scala"))
    val found = for {
      f <- files
      name = f.getFileName.toString
      if name != "Harness.scala"
      src = Files.readString(f)
      (what, re) <- owned
      if re.findFirstIn(src).isDefined
      if !allowed.get(name).exists(_._1 == what)
    } yield s"$f: $what"
    assert(found.isEmpty,
      "use graft.Harness instead of a copy:\n" + found.mkString("\n"))
  }
}
