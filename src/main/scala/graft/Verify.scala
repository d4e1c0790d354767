package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=j01,j02 — run a comma-separated subset (local
    // iteration aid; the driver sets no filter and gets every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query wall budget (round-5 verdict item 7): round 4's verify
    // stall was ONE slow oracle-side query hanging the whole artifact.
    // Each query runs on a worker thread with its own Spark job group; on
    // budget overrun the group is cancelled and the query records a named
    // TIMEOUT row in verify_errors.json instead of hanging every query
    // after it.
    val budgetMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "300").toLong * 1000L
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def qj(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      GraftSession.sweepBlocks(spark)
      val group = s"verify-$name"
      val worker = new Thread(() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          errors.synchronized {
            errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          }
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }, s"verify-$name")
      worker.start()
      worker.join(budgetMs)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        worker.interrupt()
        // Streaming queries (v06/v07) execute on StreamExecution threads
        // OUTSIDE the job group — cancelJobGroup can't reach them, so stop
        // any active stream directly (runToMemory's finally also stops on
        // interrupt, but only once its thread next wakes).
        spark.streams.active.foreach { sq =>
          try sq.stop() catch { case _: Throwable => () }
        }
        errors.synchronized { errors(name) = s"TIMEOUT after ${budgetMs / 1000}s" }
        System.err.println(s"[verify] $name TIMEOUT after ${budgetMs / 1000}s — cancelled")
        worker.join(30000) // let the cancelled job unwind before the next query
        if (worker.isAlive) {
          // A cancelled query that survives the grace period would run
          // CONCURRENTLY with subsequent queries on the shared session,
          // skewing their results and timings — abort the run and let the
          // partial artifacts + error map tell the story.
          errors.synchronized { errors(name) += " (worker did not unwind in 30s — aborting run)" }
          System.err.println(s"[verify] $name worker still alive after 30s grace — aborting")
          val errJsonNow = errors.synchronized {
            errors.map { case (k, v) => s"${qj(k)}: ${qj(v)}" }.mkString("{", ",", "}")
          }
          Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJsonNow)
          sys.exit(3)
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${qj(k)}: ${qj(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.synchronized {
      errors.map { case (k, v) => s"${qj(k)}: ${qj(v)}" }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
