package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forked-JVM check target: prints the master and shuffle-partition
  * setting `Evolution.session()` actually resolved. Runs in a FRESH JVM
  * (the suite's shared session would win `getOrCreate()` and mask the
  * decision under test).
  */
object SessionMasterCheck {
  def main(args: Array[String]): Unit = {
    val spark = Evolution.session("session-master-check")
    // print AFTER the session exists so a builder override would show
    println(s"CHECK master=${spark.sparkContext.master} " +
      s"shuffle=${spark.conf.get("spark.sql.shuffle.partitions")}")
    spark.stop()
  }
}

/** VERDICT r12 §1 (cluster deployability): `Evolution.session()` must not
  * force `local[N]` / `spark.sql.shuffle.partitions=32` when a master is
  * already configured — `spark-submit --master yarn|k8s://…` communicates
  * the cluster master via the `spark.master` system property, and the old
  * unconditional `.master(local[$cpus])` overrode it back into local
  * mode, gating every CLI entry point at real scale. Each case forks a
  * fresh JVM because the decision happens at session construction.
  */
class SessionMasterSpec extends AnyFunSuite {

  /** Fork SessionMasterCheck with the given -D props / env, return the
    * CHECK line.
    */
  private def forkCheck(props: Seq[String], env: Map[String, String],
                        unset: Seq[String] = Nil): String = {
    val (rc, out) = ForkedJvm.run("graft.SessionMasterCheck",
      props = props, env = env, unset = unset)
    assert(rc == 0, s"forked session check failed (rc=$rc):\n$out")
    out.linesIterator.find(_.startsWith("CHECK "))
      .getOrElse(fail(s"no CHECK line in forked output:\n$out"))
  }

  test("preset spark.master survives session(): no local[N] override, " +
    "no shuffle-partition pin") {
    val line = forkCheck(Seq("-Dspark.master=local[2]"), Map.empty)
    assert(line.contains("master=local[2]"), line)
    // the cluster's own parallelism defaults apply — NOT the local pin
    // (Spark default 200; the point is it is not SPARK_GRAFT_CPUS)
    assert(line.contains("shuffle=200"), line)
  }

  test("SPARK_MASTER env var is APPLIED, not merely detected (r13 review: " +
    "detecting without applying left the builder masterless and crashed)") {
    val line = forkCheck(Seq.empty, Map("SPARK_MASTER" -> "local[2]",
      "SPARK_GRAFT_CPUS" -> "7"))
    assert(line.contains("master=local[2]"), line)
    assert(line.contains("shuffle=200"), line)
  }

  test("empty SPARK_MASTER= acts as absent: local fallback applies instead " +
    "of a crashing .master(\"\") (ADVICE r13: wrapper scripts export it unset)") {
    val line = forkCheck(Seq.empty, Map("SPARK_MASTER" -> "  ",
      "SPARK_GRAFT_CPUS" -> "5"))
    assert(line.contains("master=local[5]"), line)
    assert(line.contains("shuffle=5"), line)
  }

  test("whitespace-padded SPARK_MASTER is applied TRIMMED (r14 review: " +
    "SparkContext parses the master URL verbatim, so \" local[2] \" crashed)") {
    val line = forkCheck(Seq.empty, Map("SPARK_MASTER" -> " local[2] ",
      "SPARK_GRAFT_CPUS" -> "7"))
    assert(line.contains("master=local[2]"), line)
    assert(line.contains("shuffle=200"), line)
  }

  test("no configured master: local[$SPARK_GRAFT_CPUS] fallback with " +
    "shuffle parallelism pinned to the core count (harness behavior unchanged)") {
    val line = forkCheck(Seq.empty, Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(line.contains("master=local[3]"), line)
    assert(line.contains("shuffle=3"), line)
  }

  test("SPARK_GRAFT_CPUS unset: the fallback is local[<available processors>], " +
    "the one default of the CLI, Bench, Profile and Verify") {
    val line = forkCheck(Seq.empty, Map.empty, unset = Seq("SPARK_GRAFT_CPUS", "SPARK_MASTER"))
    val cpus = Runtime.getRuntime.availableProcessors
    assert(line.contains(s"master=local[$cpus]"), line)
    assert(line.contains(s"shuffle=$cpus"), line)
  }
}
