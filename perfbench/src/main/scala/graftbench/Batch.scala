package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The batch workloads: passes over a fixed list of graft's declared
  * queries, each called through its public entry (`graft.Queries.byName`)
  * and delivered to the caller with `collect()`.
  *
  * A run is one cold pass, then warm passes until `seconds` have elapsed
  * (at least two). The seed orders every pass. Each execution's rows are
  * digested, and the cold pass's rows are written out after the timed
  * passes, for the checks `run.py` makes. */
object Batch {
  val Workloads: Map[String, Seq[String]] = Map(
    "star_etl" -> Seq(
      "q03_enrich", "q05_interval_join", "q06_oee", "q07_latest_by_key",
      "q12_cdc_upsert", "q16_group_agg", "q17_window_agg", "q21_sessions"),
    "layout_prune" -> Seq("q104_transparent_prune", "q107b_sql_manifest_agg"),
    "corpus_curation" -> Seq(
      "d03_simhash", "d06_components", "d15_edit_distance", "t36_bpe_merges",
      "t47_unigram_learn"))

  /** Warm-up: one parquet scan and one aggregate, so the first timed query
    * does not pay for loading the scan and codegen machinery. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.read.parquet(s"$data/region.parquet").collect()
    spark.range(1000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
  }

  def run(spark: SparkSession, workload: String, data: String, seed: Long,
      seconds: Double, tracer: Option[Tracer], work: String): Map[String, Any] = {
    val queries = Workloads(workload)
    val fns = queries.map(q => q -> graft.Queries.byName(q)).toMap
    // mixed first: java.util.Random's first draws are nearly equal for
    // nearby seeds, which would give consecutive seeds the same pass order
    val rng = new Random(new java.util.SplittableRandom(seed).nextLong())
    val coldRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    var attempted = 0

    def pass(cold: Boolean, traced: Boolean): Map[String, Any] = {
      val order = rng.shuffle(queries)
      tracer.foreach(t => if (traced) t.on() else t.off())
      val before = tracer.map(_.snapshot())
      val cpu0 = Proc.cpuSeconds()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val recs = order.map { q =>
        val qStart = System.currentTimeMillis()
        val q0 = System.nanoTime()
        val df = fns(q)(spark, data)
        val q1 = System.nanoTime()
        val rows = df.collect()
        val q2 = System.nanoTime()
        val buildEnd = qStart + (q1 - q0) / 1000000L
        spark.catalog.clearCache()
        attempted += 1
        if (cold) coldRows(q) = (rows, df.schema)
        Map("query" -> q, "build_s" -> (q1 - q0) / 1e9, "wall_s" -> (q2 - q0) / 1e9,
          "rows" -> rows.length, "start_ms" -> qStart, "build_end_ms" -> buildEnd,
          "digest" -> Digest.rows(rows, df.schema))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val cpu = Proc.cpuSeconds() - cpu0
      val counters = tracer.map { t =>
        val after = t.snapshot()
        after.map { case (k, v) => k -> (v - before.get(k)) }
      }
      Map("cold" -> cold, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "start_ms" -> start, "end_ms" -> end, "queries" -> recs,
        "counters" -> counters.getOrElse(Map.empty))
    }

    val passes = mutable.ArrayBuffer(pass(cold = true, traced = tracer.isDefined))
    // after the cold pass, the one pass every run makes whatever its speed
    val liveMb = Proc.liveHeapMb()
    val w0 = System.nanoTime()
    var i = 0
    while (i < 2 || (System.nanoTime() - w0) / 1e9 < seconds) {
      // traced runs alternate listener-on and listener-off warm passes, so
      // the run measures its own tracing overhead
      passes += pass(cold = false, traced = tracer.isDefined && i % 2 == 0)
      i += 1
    }
    val window = (System.nanoTime() - w0) / 1e9
    tracer.foreach(_.off())

    // untimed: the cold pass's results, for the oracle comparison
    coldRows.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$q")
    }
    val oracles = graft.Queries.oracles.filter { case (k, _) => queries.contains(k) }
    Map("kind" -> "batch", "passes" -> passes.toSeq, "window_s" -> window,
      "heap_live_mb" -> liveMb,
      "attempted" -> attempted,
      "jobs" -> tracer.map(_.jobs.toSeq).getOrElse(Nil),
      "oracle_sql" -> oracles, "queries" -> queries)
  }
}

/** Order-insensitive digest of a result, rounded like the oracle compare
  * (columns by name, doubles to 6 places, rows sorted). */
object Digest {
  def rows(rows: Array[Row], schema: StructType): String = {
    val idx = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => idx.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else {
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
    }
}

/** This JVM's own resource readings. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Heap held live, in MB: heap in use after full collections. A
    * collection lets Spark's cleaner find broadcasts and shuffles nothing
    * references and drop them, which frees more on the next one, so this
    * collects until a round frees less than 1 MB (at most ten rounds).
    * Called outside the timed regions, at a point where the work done so
    * far does not depend on the run's speed. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var live = collect()
    var rounds = 1
    var freed = Double.MaxValue
    while (freed >= 1.0 && rounds < 10) {
      Thread.sleep(200)
      val now = collect()
      freed = live - now
      live = math.min(live, now)
      rounds += 1
    }
    live
  }
}
