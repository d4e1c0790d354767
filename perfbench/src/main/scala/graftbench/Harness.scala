package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark process: one driver thread submits the given queries one
  * at a time (a closed loop with one client) over GraftSession.local.
  *
  *   1. set-up: build the session and run the set-up query, timed from
  *      JVM start;
  *   2. one untimed pass that fingerprints every query's output;
  *   3. `--passes` timed passes over the queries, in the order given.
  *      Each execution is timed from the call into its SparkEntry.queries
  *      function until the noop-sink write completes; with `--trace 1`
  *      each also records its per-layer counters (LayerTrace).
  *
  * Writes one JSON document to `--out`; statistics and the output check
  * live in run.py. */
object Harness {
  private final case class Args(data: String, queries: Seq[String], setupQuery: String,
      passes: Int, trace: Boolean, cpus: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("data"), need("queries").split(",").toSeq, need("setup-query"),
      need("passes").toInt, need("trace") == "1",
      need("cpus").toInt, need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val defs = SparkEntry.queries
    for (q <- a.queries :+ a.setupQuery if !defs.contains(q)) sys.error(s"unknown query $q")
    if (a.trace) LayerTrace.installFallbackCounter()

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // 1. set-up
    val t0 = System.nanoTime()
    val spark = GraftSession.local(a.cpus)
    val t1 = System.nanoTime()
    noop(defs(a.setupQuery)(spark, a.data))
    GraftSession.sweepBlocks(spark)
    val t2 = System.nanoTime()
    val setup = Map[String, Any](
      "setup_s" -> (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "create_s" -> (t1 - t0) / 1e9, "first_query_s" -> (t2 - t1) / 1e9).asJava

    val trace = if (a.trace) Some(new LayerTrace(spark, Thread.currentThread())) else None

    // 2. output check: a fingerprint, or the error the query raised
    val fingerprints = new java.util.LinkedHashMap[String, Any]()
    for (q <- a.queries) {
      val fp = try {
        val (n, h) = fingerprint(defs(q)(spark, a.data))
        Seq[Any](n, h).asJava
      } catch { case e: Throwable => describe(e) }
      fingerprints.put(q, fp)
      GraftSession.sweepBlocks(spark)
    }

    // 3. timed passes
    val executions = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Double]()
    for (pass <- 0 until a.passes) {
      val p0 = System.nanoTime()
      for (q <- a.queries) {
        val rec = new java.util.LinkedHashMap[String, Any]()
        rec.put("query", q)
        rec.put("pass", pass)
        trace.foreach(_.begin())
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          val df = defs(q)(spark, a.data)
          val t1 = System.nanoTime()
          rec.put("queries.build_s", (t1 - t0) / 1e9)
          trace.foreach(t => rec.put("queries.build_jobs", t.jobsSoFar()))
          noop(df)
          rec.put("ok", true)
        } catch { case e: Throwable =>
          rec.put("ok", false)
          rec.put("error", describe(e))
        }
        rec.put("wall_s", (System.nanoTime() - t0) / 1e9)
        trace.foreach(_.end(startMs, System.currentTimeMillis()).foreach { case (k, v) => rec.put(k, v) })
        GraftSession.sweepBlocks(spark)
        executions += rec
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    trace.foreach(_.close())
    spark.stop()

    val doc = Map[String, Any](
      "setup" -> setup,
      "fingerprints" -> fingerprints,
      "passes" -> passes.asJava,
      "executions" -> executions.asJava,
      "peak_rss_mb" -> peakRssMb()).asJava
    Files.writeString(Paths.get(a.out), new ObjectMapper().writeValueAsString(doc))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"

  /** The driver's VmHWM: the process's peak resident set. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Row count plus an order-insensitive hash over all columns: the sum
    * of every row's xxhash64, exact as DECIMAL(38,0). Columns are renamed
    * by position so duplicate or dotted names cannot be ambiguous; maps
    * and variants, which Spark does not hash, enter as their JSON text. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(s"c$i")
      if (!unhashable(f.dataType)) c
      else if (f.dataType.isInstanceOf[VariantType]) c.cast(StringType)
      else to_json(c)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def unhashable(dt: DataType): Boolean = dt match {
    case _: MapType | _: VariantType => true
    case ArrayType(e, _) => unhashable(e)
    case StructType(fs) => fs.exists(f => unhashable(f.dataType))
    case _ => false
  }
}
