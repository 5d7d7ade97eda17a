package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.GraftSession

/** JVM side of the benchmark: runs one workload in one process and
  * writes its raw measurements to `<out>/result.json`. `perfbench/run.py`
  * builds this, generates the inputs, checks the outputs and prints the
  * metrics.
  *
  * Arguments (all `--key value`):
  *  - workload: the workload's name (batch-ops | stream)
  *  - items: comma-separated contract query names
  *  - openloop: JSON with the open-loop settings (stream only)
  *  - data: directory holding the generated tables
  *  - out: directory for result.json and the query result dumps
  *  - seed, seconds, trace (0|1), cores
  *
  * Set-up (session, the untimed warm pass, replay staging, the open
  * loop's warm-up) runs first; then the timed part: the query items for
  * `seconds`, or, with an open loop, for a quarter of `seconds` and then
  * the open loop for `seconds`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer) else None
    val openLoop = opt.get("openloop").map(OpenLoop.parse)
    Files.createDirectories(Paths.get(out))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, s"perfbench-${opt("workload")}")
    val sessionS = secs(t0)
    val items = new Items(spark, opt("items").split(",").toSeq, opt("data"), seed, out)
    items.warm(tracer)
    openLoop.foreach(c => OpenLoop.warm(spark, c, seed))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val jvmBefore = Tracer.jvm()
    // with an open loop the items get a quarter of the time (about four
    // passes of the stream twin) and the open loop all of it after them:
    // a scenario runs about one batch a second
    val timed = items.timed(if (openLoop.isEmpty) seconds else seconds / 4, tracer)
    val rungs = openLoop.map(c => OpenLoop.timed(spark, c, seed, seconds, tracer))
    val result = timed ++ Map(
      "workload" -> opt("workload"), "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "setup_s" -> setupS, "rss_hwm_kb" -> vmHwmKb(),
      "jvm_before" -> jvmBefore, "jvm_after" -> Tracer.jvm()) ++
      rungs.map(r => Map("rungs" -> r)).getOrElse(Map.empty) ++
      tracer.map(t => Map("trace" -> t.dump())).getOrElse(Map.empty)
    // the open loop's single-slot baseline replaces the session it ran on
    SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(Paths.get(out, "result.json"), json(result))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def fromJson(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])

  /** The process's peak resident set (VmHWM), in KiB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Frees what a finished query left cached, so the next one starts
    * from the same memory state (as `graft.Bench` does).
    */
  def cleanUp(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}

/** Contract queries from `SparkEntry.queries`: each runs once untimed
  * (the warm pass; its result is dumped for the oracle check), then
  * through the noop sink in timed passes, each pass in a fresh seeded
  * order, until the time share is spent and at least [[Items.MinPasses]]
  * passes have run.
  */
final class Items(spark: SparkSession, names: Seq[String], data: String, seed: Long,
                  out: String) {
  private val rng = new scala.util.Random(seed)
  private val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val warmS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val tables = scala.collection.mutable.SortedSet.empty[String]

  /** The warm pass. It dumps each result for the oracle check; traced,
    * it is recorded too, because a memoizing streaming twin (its store
    * and replay are kept per process) folds its input only on its first
    * run.
    */
  def warm(tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.attach(spark))
    rng.shuffle(names).foreach { name =>
      tracer.foreach(_.trace = s"$name#warm")
      val t0 = System.nanoTime()
      try itemSpan(tracer, name) {
        val df = SparkEntry.queries(name)(spark, data)
        tables ++= df.inputFiles.map(_.split('/').last.stripSuffix(".parquet"))
          .filter(t => Files.exists(Paths.get(data, s"$t.parquet")))
        df.write.mode("overwrite").parquet(s"$out/results/$name")
        warmS(name) = Main.secs(t0)
      } catch { case e: Throwable => errors(name) = Items.message(e) }
      Main.cleanUp(spark)
    }
    tracer.foreach(_.detach(spark))
  }

  private def itemSpan[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(spark, name, 2, Map("kind" -> "item"))(body))

  def timed(seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val repeats = ArrayBuffer.empty[Map[String, Any]]
    val live = names.filterNot(errors.contains)
    val t0 = System.nanoTime()
    var pass = 0
    // a traced run makes exactly one traced and one untraced pass: the
    // profile covers the same work in every run, and the untraced pass
    // gives the tracing overhead inside the same process
    def more = if (tracer.isDefined) pass < 2
      else pass < Items.MinPasses || Main.secs(t0) < seconds
    while (live.nonEmpty && more) {
      val traced = tracer.filter(_ => pass % 2 == 0)
      traced.foreach(_.attach(spark))
      rng.shuffle(live).filterNot(errors.contains).foreach { name =>
        traced.foreach(_.trace = s"$name#$pass")
        val q0 = System.nanoTime()
        try {
          run(name, traced)
          repeats += Map("item" -> name, "pass" -> pass,
            "traced" -> traced.isDefined, "s" -> Main.secs(q0))
        } catch { case e: Throwable => errors(name) = Items.message(e) }
        Main.cleanUp(spark)
      }
      traced.foreach(_.detach(spark))
      pass += 1
    }
    val scans = tracer.map(_ => scanTables()).getOrElse(Map.empty)
    Map("items" -> names, "warm_s" -> warmS, "errors" -> errors,
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "repeats" -> repeats.toSeq, "passes" -> pass, "items_s" -> Main.secs(t0),
      "tables_read" -> tables.toSeq, "scan_s" -> scans)
  }

  /** One timed repeat. Traced, it is split into the entry call (build:
    * eager pins, counts and index builds happen inside it), planning and
    * the noop write.
    */
  private def run(name: String, tracer: Option[Tracer]): Unit = tracer match {
    case None =>
      SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save()
    case Some(t) =>
      itemSpan(tracer, name) {
        val df = t.span(spark, "build", 3)(SparkEntry.queries(name)(spark, data))
        t.span(spark, "plan", 3)(df.queryExecution.executedPlan)
        t.span(spark, "write", 3)(df.write.format("noop").mode("overwrite").save())
      }
  }

  /** Warm noop scan of each table the items read, best of two. Streaming
    * twins return an in-memory result, so their input is the replayed
    * events table.
    */
  private def scanTables(): Map[String, Double] =
    (if (tables.isEmpty) Seq("events") else tables.toSeq).map { t =>
      t -> (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$data/$t.parquet").write.format("noop").mode("overwrite").save()
        Main.secs(t0)
      }.min
    }.toMap
}

object Items {
  val MinPasses = 2

  def message(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getName).take(300)
}
