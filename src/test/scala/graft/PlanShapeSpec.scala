package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PlanShape

/** Snapshot gate over every registered batch query's physical plan
  * shape (see [[graft.ops.PlanShape]]). The committed `PLANSHAPES.json`
  * records each query's operator-count fingerprint at sf0.001 under the
  * test session (local[4], 4 shuffle partitions — fingerprints are a
  * function of the session shape, so regeneration must run under THIS
  * spec); a deliberate plan change updates the snapshot in the same
  * commit via
  *
  *   SPARK_GRAFT_REGEN_PLANSHAPES=1 sbt "testOnly graft.PlanShapeSpec"
  *
  * and an accidental one — a lost broadcast, a new cartesian, a
  * single-partition exchange sneaking back in — fails here with the
  * exact per-query count diff.
  *
  * Streaming queries get their own snapshot (`PLANSHAPES_STREAM.json`,
  * same regen flag): building one runs the full AvailableNow stream and
  * returns a parquet read-back whose plan is a bare scan, so the gated
  * artifact is the last MICRO-BATCH plan each stream runner records
  * into [[PlanShape.streamShapes]] — the plan where a streaming lost
  * broadcast, stray cartesian, or vanished stateful operator would
  * actually hide.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"
  private val snapshotPath = Paths.get("PLANSHAPES.json")

  private def currentShapes(): Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
      .map { name =>
        // the snapshot format round-trips names/fingerprints without
        // JSON escaping — enforce the charset instead of escaping, so a
        // nonconforming name fails HERE rather than silently never
        // parsing back (permanently-MISSING gate entries)
        assert(name.matches("[a-z0-9_]+"),
          s"query id '$name' breaks the snapshot charset [a-z0-9_]+")
        val df = SparkEntry.queries(name)(spark, sfDir)
        val fp = PlanShape.fingerprint(df)
        assert(!fp.exists(c => c == '"' || c == '\\'),
          s"fingerprint for '$name' needs JSON escaping: $fp")
        name -> fp
      }

  private def render(shapes: Seq[(String, String)]): String =
    shapes.map { case (n, f) => s"""  "$n": "$f"""" }
      .mkString("{\n", ",\n", "\n}\n")

  private def parse(json: String): Map[String, String] =
    """"([^"]+)": "([^"]*)"""".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap

  test("every batch query's plan shape matches the committed snapshot") {
    val current = currentShapes()
    if (sys.env.contains("SPARK_GRAFT_REGEN_PLANSHAPES")) {
      Files.write(snapshotPath,
        render(current).getBytes(StandardCharsets.UTF_8))
      info(s"regenerated ${snapshotPath.toAbsolutePath} " +
        s"(${current.size} queries) — commit it")
    } else {
      assert(Files.exists(snapshotPath),
        s"$snapshotPath missing — regenerate with " +
          "SPARK_GRAFT_REGEN_PLANSHAPES=1 sbt 'testOnly graft.PlanShapeSpec'")
      val committed = parse(Files.readString(snapshotPath))
      val diffs = current.flatMap { case (name, fp) =>
        committed.get(name) match {
          case None => Some(s"$name: MISSING from snapshot (now: $fp)")
          case Some(c) if c != fp =>
            Some(s"$name:\n  snapshot: $c\n  current:  $fp")
          case _ => None
        }
      }
      val stale = (committed.keySet -- current.map(_._1)).toSeq.sorted
        .map(n => s"$n: in snapshot but no longer registered")
      assert(diffs.isEmpty && stale.isEmpty,
        "plan shapes drifted — if deliberate, regenerate the snapshot " +
          "in the same commit (SPARK_GRAFT_REGEN_PLANSHAPES=1):\n" +
          (diffs ++ stale).mkString("\n"))
    }
  }

  private val streamSnapshotPath = Paths.get("PLANSHAPES_STREAM.json")

  private def currentStreamShapes(): Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(_.startsWith("stream_"))
      .map { name =>
        assert(name.matches("[a-z0-9_]+"),
          s"query id '$name' breaks the snapshot charset [a-z0-9_]+")
        PlanShape.streamShapes.drain() // discard other suites' captures
        SparkEntry.queries(name)(spark, sfDir) // runs the stream eagerly
        val recorded = PlanShape.streamShapes.drain()
        assert(recorded.nonEmpty,
          s"$name ran no stream the runners recorded a micro-batch " +
            "plan for — recording hook lost?")
        // values only: the drain-per-query protocol already attributes
        // shapes to the query name
        val fp = recorded.values.toSeq.sorted.mkString("; ")
        assert(!fp.exists(c => c == '"' || c == '\\'),
          s"stream fingerprint for '$name' needs JSON escaping: $fp")
        name -> fp
      }

  test("every stream query's micro-batch plan shape matches the " +
      "committed snapshot") {
    val current = currentStreamShapes()
    if (sys.env.contains("SPARK_GRAFT_REGEN_PLANSHAPES")) {
      Files.write(streamSnapshotPath,
        render(current).getBytes(StandardCharsets.UTF_8))
      info(s"regenerated ${streamSnapshotPath.toAbsolutePath} " +
        s"(${current.size} stream queries) — commit it")
    } else {
      assert(Files.exists(streamSnapshotPath),
        s"$streamSnapshotPath missing — regenerate with " +
          "SPARK_GRAFT_REGEN_PLANSHAPES=1 sbt 'testOnly graft.PlanShapeSpec'")
      val committed = parse(Files.readString(streamSnapshotPath))
      val diffs = current.flatMap { case (name, fp) =>
        committed.get(name) match {
          case None => Some(s"$name: MISSING from snapshot (now: $fp)")
          case Some(c) if c != fp =>
            Some(s"$name:\n  snapshot: $c\n  current:  $fp")
          case _ => None
        }
      }
      val stale = (committed.keySet -- current.map(_._1)).toSeq.sorted
        .map(n => s"$n: in snapshot but no longer registered")
      assert(diffs.isEmpty && stale.isEmpty,
        "stream micro-batch plan shapes drifted — if deliberate, " +
          "regenerate the snapshot in the same commit " +
          "(SPARK_GRAFT_REGEN_PLANSHAPES=1):\n" +
          (diffs ++ stale).mkString("\n"))
    }
  }

  test("the gate is sensitive: a lost broadcast changes the fingerprint") {
    // negative control for the snapshot's value — under a session where
    // broadcast joins are disabled (the classic silent regression this
    // gate exists to catch), a broadcast-relying query's fingerprint
    // must visibly drift (bhj count drops / a shuffled join appears),
    // otherwise a green snapshot run proves nothing
    // join_equi carries NO broadcast hint — its bhj comes from the
    // optimizer's stats-based choice, exactly the decision that can
    // silently degrade (an explicitly hinted query like join_broadcast
    // survives threshold=-1 by design, verified while writing this)
    val healthy = graft.ops.PlanShape.fingerprint(
      SparkEntry.queries("join_equi")(spark, sfDir))
    GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val degraded = graft.ops.PlanShape.fingerprint(
        SparkEntry.queries("join_equi")(spark, sfDir))
      assert(healthy.contains("bhj=1"), s"unexpected healthy shape: $healthy")
      assert(degraded != healthy,
        "disabling broadcasts did not change the fingerprint — the " +
          "gate would miss a lost broadcast")
      assert(degraded.contains("bhj=0"),
        s"degraded shape kept the broadcast: $degraded")
    }
  }
}
