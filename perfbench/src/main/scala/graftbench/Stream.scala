package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.model.Config
import graft.streaming.{Pipeline, Topology}

/** `mes_stream`: the DOD-ETL pipeline assembled through
  * `graft.streaming.Topology`, driven open-loop.
  *
  *  - `equipment` is a durable dimension; every two seconds 5% of its keys
  *    are re-keyed at a higher `ord`.
  *  - `shifts` is on-demand: its CDC covers ten times the keys the stream
  *    uses, and only observed keys are applied (back-filled from the CDC
  *    snapshot when a key is first observed).
  *  - One generator thread offers events at a fixed rate, each stamped with
  *    the time it was due. During the window new keys arrive one at a
  *    time, each with a single event, which parks in the late-data buffer
  *    until the key is registered and back-filled.
  *  - The sink collects every enriched row; latency is sink time minus the
  *    stamp.
  */
final class Stream(spark: SparkSession, seed: Long, seconds: Double, rate: Double,
    partitions: Int, work: String) {
  import spark.implicits._

  private val BaseKeys = 400
  private val NewKeys = 40
  private val AllKeys = BaseKeys + NewKeys
  private val ShiftKeys = 10 * AllKeys
  private val TickMs = 20
  private val ChurnTicks = 100
  private val SlotTicks = 100
  private val WarmUpSeconds = 1.5
  private val DrainTimeoutS = 60.0

  private val rng = new Random(new java.util.SplittableRandom(seed).nextLong())
  private val root = s"$work/stream"

  // one clock for stamps and sink times: epoch micros, nanoTime-precise
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000L
  private def usOf(nano: Long): Long = epoch0Us + (nano - nano0) / 1000L

  // generator state (generator thread only, except where synchronized)
  private var nextId = 0L
  private var offered = 0L
  private var equipOrd = 1L
  private var shiftOrd = 1L
  private val equipLatest = mutable.HashMap.empty[Long, (Long, Double)]
  private val shiftOffered = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val usedKeys = mutable.HashSet.empty[Long]
  // ids of the single events of the keys that arrive during the window
  private val newKeyEventIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private var lateMaxMs = 0.0
  private val offerLog = mutable.ArrayBuffer.empty[(Long, Long)] // (ms, offered so far)

  // sink state (guarded by `sink`)
  private object sink {
    val seen = new java.util.BitSet()
    var emitted = 0L
    var dups = 0L
    var unenriched = 0L
    val newKeyLatencyMs = mutable.ArrayBuffer.empty[Double]
    val log = mutable.ArrayBuffer.empty[(Long, Long, Int)] // (batch, sink us, rows)
    val latencyMs = mutable.ArrayBuffer.empty[Double]
    val waitBatch = mutable.ArrayBuffer.empty[Long]
    val waitCreatedUs = mutable.ArrayBuffer.empty[Long]
  }
  @volatile private var window: (Long, Long) = (Long.MaxValue, Long.MaxValue)

  // Sources stand in for topics with `partitions` partitions: a
  // MemoryStream without a partition count makes one partition per
  // `addData`, so a trigger's task count would grow with the generator's
  // tick count. The operational topic is read by two queries with their
  // own offsets (a MemoryStream cannot be shared by queries that commit
  // independently).
  private val ops = MemoryStream[(Long, Long, Long, Double)](spark, partitions)
  private val opsForKeys = MemoryStream[(Long, Long, Long, Double)](spark, partitions)
  private val equipCdc = MemoryStream[(Long, Long, Double)](spark, partitions)
  private val shiftCdc = MemoryStream[(Long, Long, String)](spark, partitions)
  private var topo: Topology = _
  private var dimQs: Map[String, StreamingQuery] = Map.empty
  private var keyQ: StreamingQuery = _
  private var opQ: StreamingQuery = _

  private def allQueries: Seq[StreamingQuery] = dimQs.values.toSeq :+ keyQ :+ opQ

  def setUp(): Unit = {
    Files.createDirectories(Paths.get(root))
    val confPath = Paths.get(root, "topology.json")
    Files.writeString(confPath,
      """{"watermarkDelay": "10 minutes", "shufflePartitions": 4, "tables": [
        | {"tableName": "events", "isOperational": true,
        |  "keyColumns": ["equip"], "ordColumn": "ts_us"},
        | {"tableName": "equipment", "isOperational": false,
        |  "keyColumns": ["equip"], "ordColumn": "ord"},
        | {"tableName": "shifts", "isOperational": false,
        |  "keyColumns": ["equip"], "ordColumn": "ord", "filterColumn": "equip"}
        |]}""".stripMargin)
    val cfg = Config.load(spark, confPath.toString)
    topo = new Topology(spark, cfg, s"$root/state", Map(
      "equipment" -> StructType.fromDDL("equip BIGINT, ord BIGINT, planned DOUBLE"),
      "shifts" -> StructType.fromDDL("equip BIGINT, ord BIGINT, shift STRING")))
    dimQs = topo.startDimensions {
      case "equipment" => equipCdc.toDF().toDF("equip", "ord", "planned")
      case "shifts" => shiftCdc.toDF().toDF("equip", "ord", "shift")
    }
    def events(m: MemoryStream[(Long, Long, Long, Double)]): DataFrame =
      m.toDF().toDF("event_id", "equip", "ts_us", "qty")
        .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    keyQ = topo.startKeyRegistration(
      events(opsForKeys), Map("shifts" -> (() => shiftSnapshot())))
    opQ = topo.startOperational(
      events(ops), "ts_utc",
      StructType.fromDDL(
        "event_id BIGINT, equip BIGINT, ts_us BIGINT, qty DOUBLE, ts_utc TIMESTAMP"),
      Pipeline.oeeColumns(col("qty"), col("planned"),
        col("shift") === "off", col("qty") < 2.0))(deliver)

    equipCdc.addData((0 until AllKeys).map { k =>
      val planned = 50.0 + rng.nextInt(50)
      equipLatest(k.toLong) = (equipOrd, planned)
      (k.toLong, equipOrd, planned)
    })
    offerShifts((0 until ShiftKeys).map(_.toLong))
    dimQs.values.foreach(_.processAllAvailable())
    // warm-up: the cold path runs here and drains. The first events carry
    // every base key, all new, so they park until their keys are
    // registered and back-filled; only the keys added mid-window are new
    // during the measured window.
    val stamp = nowUs()
    offer((0 until BaseKeys).map { k =>
      usedKeys += k.toLong
      nextId += 1
      (nextId - 1, k.toLong, stamp, 1.0 + rng.nextInt(100))
    })
    generate(WarmUpSeconds, arrivalTicks = Nil, onTick = _ => ())
    drain()
  }

  private def offer(events: Seq[(Long, Long, Long, Double)]): Unit = {
    opsForKeys.addData(events)
    ops.addData(events)
    offered += events.length
    offerLog += ((System.currentTimeMillis(), offered))
  }

  private def shiftSnapshot(): DataFrame = {
    val rows = shiftOffered.synchronized(shiftOffered.toList)
    rows.toDF("equip", "ord", "shift")
  }

  private def offerShifts(keys: Seq[Long]): Unit = {
    val rows = keys.map { k =>
      (k, shiftOrd, rng.nextInt(10) match { case 0 => "off"; case n if n < 6 => "day"; case _ => "night" })
    }
    shiftOffered.synchronized(shiftOffered ++= rows)
    shiftCdc.addData(rows)
    shiftOrd += 1
  }

  private def churn(): Unit = {
    equipOrd += 1
    equipCdc.addData(rng.shuffle((0 until AllKeys).toList).take(AllKeys / 20).map { k =>
      val planned = 50.0 + rng.nextInt(50)
      equipLatest(k.toLong) = (equipOrd, planned)
      (k.toLong, equipOrd, planned)
    })
    offerShifts(Seq.fill(ShiftKeys / 20)(rng.nextInt(ShiftKeys).toLong))
  }

  private def deliver(out: DataFrame, batchId: Long): Unit = {
    val rows = out.select("event_id", "ts_us", "oee", "shift").collect()
    val t = nowUs()
    val (w0, w1) = window
    sink.synchronized {
      rows.foreach { r =>
        val id = r.getLong(0).toInt
        if (sink.seen.get(id)) sink.dups += 1 else sink.seen.set(id)
        if (r.isNullAt(2) || r.isNullAt(3)) sink.unenriched += 1
        val created = r.getLong(1)
        if (newKeyEventIds.contains(id.toLong)) sink.newKeyLatencyMs += (t - created) / 1000.0
        else if (created >= w0 && created < w1) {
          sink.latencyMs += (t - created) / 1000.0
          sink.waitBatch += batchId
          sink.waitCreatedUs += created
        }
      }
      sink.emitted += rows.length
      sink.log += ((batchId, t, rows.length))
    }
  }

  /** Offer events on a fixed schedule for `secs`, drawing from the base
    * keys; key BaseKeys + i arrives with one event at tick
    * `arrivalTicks(i)` and joins no draw: its event's latency is the cold
    * path alone, and the parked events stay few enough not to set the
    * warm path's tail. */
  private def generate(secs: Double, arrivalTicks: Seq[Int], onTick: Int => Unit): Unit = {
    val perTick = rate * TickMs / 1000.0
    val ticks = (secs * 1000 / TickMs).toInt
    val t0 = System.nanoTime()
    var carry = 0.0
    var j = 0
    while (j < ticks) {
      val due = t0 + j * TickMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - due) / 1e6)
      val stamp = usOf(due)
      val arrivals = arrivalTicks.indices.filter(arrivalTicks(_) == j).map(i => (BaseKeys + i).toLong)
      carry += perTick
      val n = carry.toInt
      carry -= n
      val batch = (0 until n).map { _ =>
        val k = rng.nextInt(BaseKeys).toLong
        usedKeys += k
        nextId += 1
        (nextId - 1, k, stamp, 1.0 + rng.nextInt(100))
      } ++ arrivals.map { k =>
        usedKeys += k
        newKeyEventIds.add(nextId)
        nextId += 1
        (nextId - 1, k, stamp, 1.0 + rng.nextInt(100))
      }
      if (batch.nonEmpty) offer(batch)
      if (j % ChurnTicks == ChurnTicks - 1) churn()
      onTick(j)
      j += 1
    }
  }

  /** Run every query to quiescence; while events are still parked, offer
    * one more event for a long-registered key so the buffer is retried. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + (DrainTimeoutS * 1e9).toLong
    def settle(): Unit = {
      dimQs.values.foreach(_.processAllAvailable())
      keyQ.processAllAvailable()
      dimQs.values.foreach(_.processAllAvailable())
      opQ.processAllAvailable()
    }
    settle()
    while (sink.synchronized(sink.emitted) < offered && System.nanoTime() < deadline) {
      usedKeys += 0L
      offer(Seq((nextId, 0L, nowUs(), 1.0)))
      nextId += 1
      settle()
    }
  }

  /** Closed loop: offer 20k events, wait for them, repeat. Used once to
    * size the open-loop rate well below what the pipeline can sustain. */
  def capacity(): Map[String, Any] = {
    val chunk = 20000
    val t0 = System.nanoTime()
    var n = 0L
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val stamp = nowUs()
      offer((0 until chunk).map { _ =>
        nextId += 1
        (nextId - 1, rng.nextInt(BaseKeys).toLong, stamp, 1.0 + rng.nextInt(100))
      })
      keyQ.processAllAvailable()
      opQ.processAllAvailable()
      n += chunk
    }
    val eps = n / ((System.nanoTime() - t0) / 1e9)
    allQueries.foreach(_.stop())
    Map("kind" -> "capacity", "capacity_eps" -> eps, "attempted" -> 1, "failed" -> 0)
  }

  def run(tracer: Option[Tracer]): Map[String, Any] = {
    val slots = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    var slotStart = System.currentTimeMillis()
    lateMaxMs = 0.0
    tracer.foreach(_.on())
    val cpu0 = Proc.cpuSeconds()
    val w0 = nowUs()
    window = (w0, Long.MaxValue)
    val emitted0 = sink.synchronized(sink.emitted)
    val ticks = (seconds * 1000 / TickMs).toInt
    // new keys arrive evenly from 10% to 70% of the window, so each one's
    // event is emitted well before the window ends
    val arrivalTicks = (0 until NewKeys).map(i => (ticks * (0.1 + 0.6 * i / (NewKeys - 1))).toInt)
    generate(seconds, arrivalTicks, onTick = j =>
      // traced runs alternate listener-on and listener-off slots, so the
      // run measures its own tracing overhead
      tracer.foreach { t =>
        if (j % SlotTicks == SlotTicks - 1) {
          val now = System.currentTimeMillis()
          slots += ((slotStart, now, t.isOn))
          slotStart = now
          if (t.isOn) t.off() else t.on()
        }
      })
    val w1 = nowUs()
    window = (w0, w1)
    val cpu = Proc.cpuSeconds() - cpu0
    val delivered = sink.synchronized(sink.emitted) - emitted0
    tracer.foreach { t =>
      slots += ((slotStart, System.currentTimeMillis(), t.isOn))
      t.off()
    }

    drain()
    val progress = allQueries.map(q => q.id.toString -> q.recentProgress.map { p =>
      Map("batch" -> p.batchId, "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
    }.toSeq).toMap
    val queryIds = Map(
      "op" -> Seq(opQ.id.toString), "keys" -> Seq(keyQ.id.toString),
      "dim" -> dimQs.values.map(_.id.toString).toSeq)

    // invariants, after the last drain
    val s = sink.synchronized((sink.emitted, sink.dups, sink.unenriched, sink.seen.cardinality()))
    val missing = offered - s._4
    val used = usedKeys.toSet
    val shiftKeysHeld = topo.maintainers("shifts").current.select("equip").as[Long].collect()
    val unusedInShifts = shiftKeysHeld.count(k => !used.contains(k))
    val equipRows = topo.maintainers("equipment").current
      .select("equip", "ord", "planned").as[(Long, Long, Double)].collect()
    val equipWrong = equipRows.groupBy(_._1).count { case (k, rs) =>
      rs.length != 1 || !equipLatest.get(k).contains((rs.head._2, rs.head._3))
    } + equipLatest.keySet.count(k => !equipRows.exists(_._1 == k))
    val observed = topo.observedKeys.current.count()
    val checks = Map(
      "missing" -> missing, "duplicates" -> s._2, "unenriched" -> s._3,
      "unused_keys_in_on_demand_dim" -> unusedInShifts,
      "equipment_rows_wrong" -> equipWrong,
      "late_rows_after_drain" -> (offered - s._1))
    // a parked event left after the drain is counted under `missing`
    val failed = missing + s._2 + s._3 + unusedInShifts + equipWrong
    val shiftOfferedKeys = shiftOffered.synchronized(shiftOffered.map(_._1).distinct.length)
    allQueries.foreach(_.stop())
    // the state every offered event left behind, with no batch in flight
    // (their number is set by the offer rate, not by the run's speed)
    val liveMb = Proc.liveHeapMb()
    val diskMb = Files.walk(Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1e6

    Map("kind" -> "stream", "rate_eps" -> rate, "window_s" -> (w1 - w0) / 1e6,
      "window_start_ms" -> w0 / 1000, "window_end_ms" -> w1 / 1000,
      "cpu_s" -> cpu, "delivered" -> delivered, "heap_live_mb" -> liveMb,
      "new_key_latency_ms" -> sink.synchronized(sink.newKeyLatencyMs.toSeq), "attempted" -> offered,
      "failed" -> failed, "checks" -> checks,
      "latency_ms" -> sink.latencyMs.toSeq,
      "wait_batch" -> sink.waitBatch.toSeq, "wait_created_ms" -> sink.waitCreatedUs.map(_ / 1000.0).toSeq,
      "sink_log" -> sink.log.map { case (b, t, n) => Seq(b, t / 1000L, n.toLong) }.toSeq,
      "offer_log" -> offerLog.toSeq,
      "progress" -> progress, "query_ids" -> queryIds,
      "gen_late_ms_max" -> lateMaxMs, "slots" -> slots.map { case (a, b, on) => Seq(a, b, on) }.toSeq,
      "counters" -> tracer.map(_.snapshot()).getOrElse(Map.empty),
      "jobs_by_query" -> tracer.map(_.jobsByQuery()).getOrElse(Map.empty),
      "jobs" -> tracer.map(_.jobs.toSeq).getOrElse(Nil),
      "state" -> Map(
        "dim_rows" -> (equipRows.length + shiftKeysHeld.length),
        "observed_keys" -> observed, "disk_mb" -> diskMb,
        "shift_rows_held" -> shiftKeysHeld.length,
        "shift_keys_offered" -> shiftOfferedKeys))
  }
}
