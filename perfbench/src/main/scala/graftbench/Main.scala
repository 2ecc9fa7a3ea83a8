package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in one fresh JVM. `run.py` launches it, times set-up
  * from launch to the `READY` line, and turns the raw record it writes
  * (`<work>/raw.json`) into metrics.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cores K [--rate EPS] [--capacity]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val isStream = workload == "mes_stream"
    require(isStream || Batch.Workloads.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(s"local[$cores]", s"graftbench-$workload", cores)
    phase("session built", t0)
    // the stream's per-trigger records are read from the queries' own
    // progress history after the run; keep all of it
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val record =
      try {
        if (isStream) {
          val s = new Stream(spark, seed, seconds, opts("rate").toDouble, 1, work)
          val w0 = System.nanoTime()
          s.setUp()
          phase("topology set up and warmed", w0)
          ready()
          if (opts.get("capacity").contains("1")) s.capacity()
          else s.run(if (traced) Some(new Tracer(spark)) else None)
        } else {
          val data = opts("data")
          val w0 = System.nanoTime()
          Batch.warmUp(spark, data)
          phase("warm-up", w0)
          ready()
          Batch.run(spark, workload, data, seed, seconds,
            if (traced) Some(new Tracer(spark)) else None, work)
        }
      } finally spark.stop()
    val out = record ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "traced" -> traced)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(work, "raw.json"), json.writeValueAsString(out))
    println("DONE")
  }

  private def phase(what: String, since: Long): Unit =
    System.err.println(f"[graftbench] $what in ${(System.nanoTime() - since) / 1e9}%.2f s " +
      f"(JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s)")

  private def ready(): Unit = {
    println("READY")
    System.out.flush()
  }
}
