package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark JVM ("leg"): set up a SparkSession, run two untimed
  * warm-up passes, then closed-loop passes of the workload until the time is
  * up, check the outputs, and write what it measured as JSON for
  * `run.py` to combine.
  *
  * With `--trace 1` at least three passes run, alternating untraced and
  * traced; the traced ones carry spans and the Spark listeners, and the
  * layer counters come from those passes only.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val launchMs = a("launch-ms").toLong
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val expected = mapper.readTree(inputs.resolve("expected.json").toFile)
    val heapPeak = new HeapPeak

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val spans = new Spans(false)
    val rec = new Recorder
    val ctx = new Ctx(spark, spans, rec, work, inputs, a("seed").toLong)
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    val wl = workload(a("workload"), ctx, expected)

    // warm-up: class loading, codegen, first touch of every input, and C2,
    // which is still compiling through the first pass after the cold one
    Seq(-2, -1).foreach(wl.pass)
    val setupMs = System.currentTimeMillis()

    val engine = new EngineProbe
    val plans = new PlanProbe
    val traced = ArrayBuffer[(Long, Long)]() // epoch-ms windows of traced passes
    val passS = ArrayBuffer[(Boolean, Double)]()
    rec.measuring = true
    heapPeak.reset()
    val t0 = System.nanoTime()
    // whole passes only: start another one while it would end closer to
    // the time budget than stopping now does
    def more(p: Int) = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      p < (if (trace) 3 else 1) || elapsed + 0.5 * elapsed / p < seconds
    }
    var p = 0
    while (more(p)) {
      // untraced, traced, untraced, ...: a traced pass between two
      // untraced ones cancels a steady warm-up trend out of the overhead
      val tracedPass = trace && p % 2 == 1
      if (tracedPass) {
        spark.sparkContext.addSparkListener(engine)
        spark.listenerManager.register(plans)
      }
      val w0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      spans.enabled = tracedPass
      rec.counting = tracedPass
      spans(s"pass $p", "pass", -1)(wl.pass(p))
      passS += tracedPass -> (System.nanoTime() - p0) / 1e9
      if (tracedPass) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(engine)
        spark.listenerManager.unregister(plans)
        traced += w0 -> System.currentTimeMillis()
      }
      heapPeak.afterPass()
      p += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    wl.finish()
    val checkS = (System.nanoTime() - c0) / 1e9
    rec.measuring = false
    org.apache.spark.ListenerBusDrain(spark.sparkContext)

    // streaming: micro-batches are the operations
    val batches = streamProbe.synchronized(streamProbe.batches.filter(_.startMs >= setupMs).toList)
    rec.attempted += batches.size
    batches.foreach(b => rec.samples.getOrElseUpdate("batch_s", ArrayBuffer()) +=
      b.durations.getOrElse("triggerExecution", 0L) / 1000.0)

    spans.enabled = trace // the listener records become spans too
    val layers = if (trace) Some(Layers(engine, plans, batches, traced.toSeq, passS.toSeq,
      rec, spans, cores, heapPeak.peakMb)) else None
    if (trace) spans.writeJson(work.resolve("spans.json"), mapper)

    def finite(v: Double): Option[Double] = Some(v).filterNot(x => x.isNaN || x.isInfinite)
    val out = ListMap(
      "workload" -> wl.name,
      "setup_s" -> (setupMs - launchMs) / 1000.0,
      "setup_phases" -> ListMap(
        "jvm_s" -> (mainMs - launchMs) / 1000.0,
        "session_s" -> (sessionMs - mainMs) / 1000.0,
        "warmup_s" -> (setupMs - sessionMs) / 1000.0),
      "measure_s" -> measureS,
      "check_s" -> checkS,
      "passes" -> p,
      "pass_s" -> passS.filter(x => !trace || !x._1).map(_._2),
      "traced_pass_s" -> passS.filter(_._1).map(_._2),
      "op_key" -> wl.opKey,
      "samples" -> rec.samples,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures,
      "peak_live_heap_mb" -> heapPeak.peakMb,
      "env" -> ListMap("nproc" -> cores, "heap" -> a.getOrElse("heap", ""),
        "jdk" -> System.getProperty("java.vm.version"), "spark" -> spark.version)) ++
      layers.map(l => "layers" -> ListMap(l.metrics.map { case (k, v) => k -> finite(v) }: _*)) ++
      layers.map(l => "self_s" -> ListMap(l.self.toSeq.sortBy(-_._2): _*))
    mapper.writeValue(Paths.get(a("out")).toFile, out)
    spark.stop()
  }

  private def workload(name: String, ctx: Ctx, expected: JsonNode): Workload = {
    def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
    def counts(n: JsonNode): Map[String, Long] =
      n.fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    def catalog(name: String, mix: Seq[(String, String)]) = {
      val fps = expected.path("fingerprints")
      new CatalogWorkload(name, ctx, expected.path("catalog_dir").asText, mix,
        mix.map(_._1).filter(q => fps.has(q)).map(q => q -> fps.get(q).asText).toMap)
    }
    def stream() = {
      val ev = expected.path("events")
      val files = ev.path("files").elements.asScala.map(f => ctx.inputs.resolve(f.asText)).toSeq
      new StreamWorkload(ctx, files, longs(ev.path("rows_per_file")),
        longs(ev.path("distinct_per_file")), longs(ev.path("cents_per_file")),
        ev.path("files_per_pass").asInt)
    }
    name match {
      case "catalog_short" => catalog(name, CatalogWorkload.short)
      case "catalog_iterative" => catalog(name, CatalogWorkload.iterative)
      case "stream_events" => stream()
      case "catalog_stream" =>
        new Combined(name, Seq(catalog("catalog_short", CatalogWorkload.short), stream()), ctx.rec)
      case "etl_spotify" =>
        new EtlWorkload(ctx, expected.path("bulk_raw").asText, counts(expected.path("bulk")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete)
    finally s.close()
  }
}

/** Highest old-generation occupancy after any collection, read from the
  * GC notifications, plus a full collection at the end of every pass.
  */
final class HeapPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).toList
  @volatile private var peak = 0L

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit = poll()
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private def poll(): Unit = pools.foreach { p =>
    val u = p.getCollectionUsage
    if (u != null && u.getUsed > peak) peak = u.getUsed
  }

  def reset(): Unit = peak = 0L
  def afterPass(): Unit = { System.gc(); poll() }
  def peakMb: Double = peak / 1e6
}
