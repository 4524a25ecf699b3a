package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names to restrict to]
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name1,name2,...] " +
            "(query names are ONE comma-separated arg)")
        sys.exit(2)
    }
    val spark = Evolution.session("verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Host-load canary (same 5 queries as Bench.canary): oracle-gate and
    // stat-audit wall times quoted in PLANS.md are only comparable across
    // rounds divided by this — r10 normalized Bench this way but left
    // Verify runs un-normalized. Full runs only: a subset run's wall is
    // never quoted as a gate figure.
    if (only.isEmpty) {
      val t0 = System.nanoTime()
      // canary_n counts only COMPLETED canary queries (mirroring Bench's
      // canaryTimes.size): a failing canary would otherwise silently
      // shorten the measured work while the normalization denominator
      // still claimed the full set, skewing the cross-round comparisons
      // the canary exists to make honest
      val ok = Bench.canary.count { n =>
        try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] canary $n failed: ${e.getMessage}")
          false
        }
      }
      val canarySec = (System.nanoTime() - t0) / 1e9
      val line = f"""{"verify_canary_sec":$canarySec%.3f,"canary_n":$ok}"""
      println(line)
      Files.writeString(Paths.get(s"$outDir/verify_canary.json"), line)
    }
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
