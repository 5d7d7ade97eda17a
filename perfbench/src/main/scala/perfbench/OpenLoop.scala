package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.api.StreamEnv
import graft.core.GraftSession

/** The open loop: `StreamEnv` pipelines over Spark's rate source, whose
  * `timestamp` column is each event's scheduled (due) time, so load
  * arrives on schedule however slowly the engine runs.
  *
  *  - s1 (reference scenario 1): map → filter.
  *  - s2 (reference scenario 2): keyBy → 10 s tumbling window →
  *    count/sum, update mode, with a watermark.
  *
  * The benchmark's own sink (foreachBatch) stamps the time it receives
  * each batch's rows. A row's latency runs from the due time of the
  * latest event in it to that stamp, so queue wait is included and the
  * window length is not.
  */
object OpenLoop {
  final case class Conf(baseRate: Long, ladder: Map[String, Seq[Long]], keys: Int,
                        warmS: Double, rungS: Double, skipS: Double,
                        window: String, watermark: String)

  def parse(s: String): Conf = {
    val j = Main.fromJson(s)
    def num(k: String) = j(k).asInstanceOf[Number]
    Conf(num("base_rate").longValue,
      j("ladder").asInstanceOf[Map[String, Seq[Number]]].map { case (k, v) => k -> v.map(_.longValue) },
      num("keys").intValue, num("warm_s").doubleValue, num("rung_s").doubleValue,
      num("skip_s").doubleValue, j("window").toString, j("watermark").toString)
  }

  /** Untimed warm-up of both scenarios at the base rate. */
  def warm(spark: SparkSession, conf: Conf, seed: Long): Unit = {
    // stateful shuffle sized for the key count by the engine's own rule
    GraftSession.forStreaming(spark, conf.keys)
    Seq("s1", "s2").foreach(s =>
      rung(spark, s, conf.baseRate, conf.warmS, conf, seed, warm = true))
  }

  /** Untraced: each scenario at the base rate for half of `seconds`.
    * Traced: each scenario's ladder with the listeners attached, the base
    * rate again untraced (the tracing overhead), then s1 at the lowest
    * rung on a single-slot session.
    */
  def timed(spark: SparkSession, conf: Conf, seed: Long, seconds: Double,
            tracer: Option[Tracer]): Seq[Map[String, Any]] = tracer match {
    case None =>
      Seq("s1", "s2").map(s => rung(spark, s, conf.baseRate, seconds / 2, conf, seed))
    case Some(t) =>
      t.attach(spark)
      val climbed = Seq("s1", "s2").flatMap(s => conf.ladder(s).map { r =>
        t.trace = s"$s@$r"
        t.span(spark, s"$s@$r", 2, Map("kind" -> "rung"))(
          rung(spark, s, r, conf.rungS, conf, seed, traced = true))
      })
      t.detach(spark)
      val untraced = Seq("s1", "s2").map(s =>
        rung(spark, s, conf.baseRate, conf.rungS, conf, seed))
      spark.stop()
      val single = GraftSession.local(1, "perfbench-openloop-local1")
      GraftSession.forStreaming(single, conf.keys)
      val lowest = conf.ladder("s1").min
      rung(single, "s1", lowest, conf.warmS, conf, seed, warm = true)
      climbed ++ untraced :+ (rung(single, "s1", lowest, conf.rungS, conf, seed) ++
        Map("single_thread" -> true))
  }

  /** One scenario at one rate for `seconds`. Returns the per-batch
    * progress, the latency histogram of rows due after the first
    * `skipS` seconds and how many batches it spans, the output check and
    * the time spent in the sink.
    */
  def rung(spark: SparkSession, scenario: String, rate: Long, seconds: Double,
           conf: Conf, seed: Long, traced: Boolean = false,
           warm: Boolean = false): Map[String, Any] = {
    val sink = new Sink(scenario)
    val checkpoint = graft.core.TempDirs.create("perfbench_ol")
    val start = System.currentTimeMillis()
    sink.from = start + (conf.skipS * 1000).toLong
    val q = pipeline(spark, scenario, rate, conf, seed).writeStream
      .outputMode(if (scenario == "s2") "update" else "append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => sink.receive(b, id))
      .start()
    try {
      Thread.sleep((seconds * 1000).toLong)
      // a warm-up only counts once whole batches have run
      val deadline = System.currentTimeMillis() + 20000
      while (warm && q.recentProgress.count(_.numInputRows > 0) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally q.stop()
    val end = System.currentTimeMillis()
    val batches = q.recentProgress.toSeq.map(batchRecord)
    // a query that died fails the rung's check instead of the whole run
    val died = q.exception.map(e => Items.message(e))
    // only batches whose progress was posted count: stop() may cut the
    // last one after its sink call
    val done = batches.map(_("batch").asInstanceOf[Long]).toSet
    val processed = batches.map(_("rows").asInstanceOf[Long]).sum
    val check = scenario match {
      case "s1" =>
        val expected = batches.map { b =>
          val (a, z) = (b("start_offset").asInstanceOf[Long], b("end_offset").asInstanceOf[Long])
          passing(a * rate, z * rate, seed)
        }.sum
        val got = sink.counts.asScala.collect { case (id, n) if done(id) => n }.sum
        Map("ok" -> (died.isEmpty && got == expected), "expected" -> expected, "got" -> got)
      case _ =>
        val got = sink.finalCounts(done)
        Map("ok" -> (died.isEmpty && got == processed), "expected" -> processed, "got" -> got)
    }
    Map("scenario" -> scenario, "rate" -> rate, "start_ms" -> start, "end_ms" -> end,
      "traced" -> traced, "batches" -> batches,
      "latency_hist_ms" -> sink.histogram(done), "latency_batches" -> sink.sampled(done),
      "check" -> (check ++ died.map("error" -> _)),
      "sink_s" -> sink.busyNs.sum() / 1e9, "rows_out" -> sink.rowsOut.sum())
  }

  /** s1: map → filter; s2: keyBy → tumbling window → count/sum. Records
    * carry about 100 bytes: the value, its due time, a key hashed from
    * the seed, an amount and an 80-character payload.
    */
  def pipeline(spark: SparkSession, scenario: String, rate: Long, conf: Conf,
               seed: Long): DataFrame = {
    val events = StreamEnv(spark).fromRate(rate)
      .mapRecords(
        "value" -> col("value"), "timestamp" -> col("timestamp"),
        "key" -> pmod(xxhash64(col("value"), lit(seed)), lit(conf.keys.toLong)),
        "amount" -> amount(col("value"), seed),
        "payload" -> repeat(hex(xxhash64(col("value"), lit(seed + 1))), 5))
    scenario match {
      case "s1" =>
        events.mapRecords("value" -> col("value"), "timestamp" -> col("timestamp"),
            "key" -> col("key"), "amount" -> col("amount"), "payload" -> lower(col("payload")))
          .filterRecords(col("amount") >= 10.0).df
      case "s2" =>
        events.withEventTime("timestamp", conf.watermark)
          .keyBy(col("key")).window(col("timestamp"), conf.window)
          .agg(count(lit(1)).as("cnt"), sum(col("amount")).as("total"),
            max(col("timestamp")).as("latest")).df
    }
  }

  /** The amount column, in 0.0 .. 99.9; s1's filter keeps amount >= 10. */
  def amount(v: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    pmod(v * 7 + lit(seed), lit(1000L)) / 10.0

  /** How many values in [from, until) pass s1's filter. */
  def passing(from: Long, until: Long, seed: Long): Long = {
    var n = 0L
    var v = from
    while (v < until) {
      if (java.lang.Math.floorMod(v * 7 + seed, 1000L) >= 100) n += 1
      v += 1
    }
    n
  }

  private def offset(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong

  private def batchRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.head
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> offset(src.startOffset), "end_offset" -> offset(src.endOffset))
  }

  /** The benchmark's sink: collects a small per-batch summary and
    * stamps the time the rows arrive.
    */
  final class Sink(scenario: String) extends Serializable {
    @volatile var from = 0L
    val counts = new ConcurrentHashMap[Long, Long]()
    private val hists = new ConcurrentHashMap[Long, Map[Long, Long]]()
    private val updates = new ConcurrentHashMap[Long, Seq[((Long, Long), Long)]]()
    val busyNs = new java.util.concurrent.atomic.LongAdder()
    val rowsOut = new java.util.concurrent.atomic.LongAdder()

    def receive(b: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      scenario match {
        case "s1" =>
          val rows = Sink.perDueMs(b)
          val received = System.currentTimeMillis()
          val n = rows.map(_._2).sum
          counts.put(id, n)
          rowsOut.add(n)
          hists.put(id, rows.filter(_._1 >= from)
            .groupBy(r => received - r._1).map { case (k, v) => k -> v.map(_._2).sum })
        case _ =>
          val rows = b.select(unix_millis(col("window.start")), col("key"), col("cnt"),
            unix_millis(col("latest"))).collect()
          val received = System.currentTimeMillis()
          rowsOut.add(rows.length.toLong)
          updates.put(id, rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSeq)
          hists.put(id, rows.filter(_.getLong(3) >= from)
            .groupBy(r => received - r.getLong(3)).map { case (k, v) => k -> v.length.toLong })
      }
      busyNs.add(System.nanoTime() - t0)
    }

    /** Latency (ms) → row count over the batches in `done`. */
    def histogram(done: Long => Boolean): Map[Long, Long] =
      hists.asScala.toSeq.filter { case (id, _) => done(id) }.flatMap(_._2)
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

    /** How many batches in `done` gave latency samples. */
    def sampled(done: Long => Boolean): Int =
      hists.asScala.count { case (id, h) => done(id) && h.nonEmpty }

    /** Sum over (window, key) of the last count emitted for it. */
    def finalCounts(done: Long => Boolean): Long =
      updates.asScala.toSeq.filter { case (id, _) => done(id) }.sortBy(_._1)
        .flatMap(_._2).toMap.values.sum
  }
}

object Sink {
  /** Rows per due millisecond, counted inside each partition: one stage,
    * no shuffle, so the sink adds as little as it can to what it times.
    */
  def perDueMs(b: DataFrame): Array[(Long, Long)] =
    b.select(unix_millis(col("timestamp"))).queryExecution.toRdd.mapPartitions { it =>
      val m = new java.util.HashMap[Long, Long]()
      it.foreach(r => m.merge(r.getLong(0), 1L, (a: Long, c: Long) => a + c))
      m.asScala.iterator
    }.collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }.toArray
}
