package perfbench

import graft.SparkEntry
import graft.ops.CachedStages
import graft.spotify.{AppConfig, Pipeline, SpotifyClient}
import graft.streaming.EventStreams
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.MapType
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one JVM measured: samples by name, operation outcomes, and the
  * counters each layer reports. Keys ending in `_s` are seconds.
  */
final class Recorder {
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  var measuring = false
  var counting = false

  def sample(key: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(key, ArrayBuffer()) += v
  def count(key: String, v: Double): Unit =
    if (counting) counters(key) = counters.getOrElse(key, 0.0) + v
  def outcome(ok: Boolean, what: => String): Unit = if (measuring) {
    attempted += 1
    if (!ok) fail(what)
  }
  def fail(what: String): Unit = if (measuring) {
    failed += 1
    if (failures.size < 20) failures += what
  }
}

/** Shared state of one benchmark JVM. */
final class Ctx(val spark: SparkSession, val spans: Spans, val rec: Recorder,
    val work: Path, val inputs: Path, val seed: Long) {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** One workload: a pass is its unit of repeated work; every operation in a
  * pass starts only after the previous one has finished.
  */
trait Workload {
  def name: String
  def pass(p: Int): Unit
  /** Checks that need the whole run's output (streaming drains). */
  def finish(): Unit = ()
  /** The samples that make up `op_p50_s`. */
  def opKey: String
}

object Fingerprint {
  /** Row count and an order-insensitive hash of every row. XOR alone
    * would cancel duplicate rows, so a wrapped sum of the low hash bits
    * rides along.
    */
  def apply(df: DataFrame): String = {
    val names = df.columns
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cols = names.zipWithIndex.sortBy(_._1).map { case (_, i) =>
      renamed.schema(i).dataType match {
        case _: MapType => to_json(col(s"c$i"))
        case _ => col(s"c$i")
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = renamed.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL))))
      .collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}

/** A fixed mix of `SparkEntry.queries` over the generated catalog tables;
  * the seed sets the order of each pass. Each result is fingerprinted and
  * compared with the recorded fingerprint.
  */
final class CatalogWorkload(val name: String, ctx: Ctx, dir: String,
    mix: Seq[(String, String)], expected: Map[String, String]) extends Workload {
  import ctx._
  val opKey = "query_s"
  private var opId = 0

  def pass(p: Int): Unit = {
    val order = new scala.util.Random(seed * 7919L + p).shuffle(mix)
    order.foreach { case (q, module) => query(q, module) }
  }

  private def query(q: String, module: String): Unit = {
    opId += 1
    val t0 = System.nanoTime()
    spans(q, s"ops/$module", opId) {
      try {
        val df = spans("SparkEntry.queries", "SparkEntry.construct")(SparkEntry.queries(q)(spark, dir))
        val t1 = System.nanoTime()
        val fp = spans("fingerprint", "SparkEntry.action")(Fingerprint(df))
        val t2 = System.nanoTime()
        rec.sample("query_s", (t2 - t0) / 1e9)
        rec.sample(s"query.$q", (t2 - t0) / 1e9)
        rec.count("entry.construct_s", (t1 - t0) / 1e9)
        rec.count("entry.action_s", (t2 - t1) / 1e9)
        rec.count(s"ops.$module.s", (t2 - t0) / 1e9)
        rec.outcome(expected.get(q).contains(fp), s"$q: fingerprint $fp, expected ${expected.getOrElse(q, "none")}")
      } catch {
        case e: Exception => rec.outcome(ok = false, s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    }
    release()
  }

  private def release(): Unit = spans("CachedStages.release", "ops/CachedStages") {
    if (spans.enabled) {
      val infos = spark.sparkContext.getRDDStorageInfo
      rec.count("cache.blocks", infos.map(_.numCachedPartitions).sum.toDouble)
      val mb = infos.map(i => i.memSize + i.diskSize).sum / 1e6
      rec.counters("cache.peak_mb") = rec.counters.getOrElse("cache.peak_mb", 0.0).max(mb)
    }
    val t0 = System.nanoTime()
    CachedStages.release(spark, blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    rec.count("cache.release_s", secondsSince(t0))
  }
}

object CatalogWorkload {
  /** Per-query fixed costs dominate: planning, scheduling, tiny tasks. */
  val short: Seq[(String, String)] = Seq(
    "q06_anti_join_customers" -> "Relational", "q07_top_orders" -> "Relational",
    "q36_daily_type_pivot" -> "Events", "q14_token_frequency" -> "TextOps",
    "q63_token_accounting" -> "TextOps", "q44_hash_split" -> "Sampling",
    "q71_zorder_layout" -> "Layout", "q48_pii_scrub" -> "Privacy",
    "q148_dim_stats" -> "Features",
    // the cheapest of the iterative modules, so that each is measured here
    // too; two of them persist stages that CachedStages releases
    "q142_assoc_rules" -> "Graph", "q18_minhash_sigs" -> "Dedup",
    "q137_norm_outliers" -> "Similarity")

  /** Iterative shuffles, persisted stages and the custom expressions. */
  val iterative: Seq[(String, String)] = Seq(
    "q69_copurchase_pagerank" -> "Graph", "q90_seeded_pagerank" -> "Graph",
    "q120_purchase_hits" -> "Graph", "q86_copurchase_communities" -> "Graph",
    "q70_copurchase_triangles" -> "Graph", "q183_strong_kcore" -> "Graph",
    "q19_neardup_pairs" -> "Dedup", "q40_dedup_clusters" -> "Dedup",
    "q38_ngram_jaccard_join" -> "Dedup", "q151_ann_recall_ladder" -> "Similarity",
    "q101_bpe_merges" -> "TextOps")

  val modules: Seq[String] = (short ++ iterative).map(_._2).distinct
}

/** The paper's daily job: extract over a seeded synthetic API, then
  * `Pipeline.run`; plus bulk runs of `Pipeline.run` over a seeded raw
  * document. Each run's `RunResult.stats` must equal the counts the
  * generator derived.
  */
final class EtlWorkload(ctx: Ctx, bulkRaw: String, bulkExpected: Map[String, Long])
    extends Workload {
  import ctx._
  val name = "etl_spotify"
  val opKey = "etl_daily_s"
  private var runId = 0

  private def config(base: Path, format: String): AppConfig = new AppConfig(Map(
    "output" -> Map("base_dir" -> base.toString, "format" -> format, "raw_dir" -> "raw",
      "processed_dir" -> "processed", "final_dir" -> "final"),
    "parameters" -> Map("limit" -> 50, "country" -> null),
    "transformations" -> Map("merge_tracks_features" -> true)), Map.empty)

  def pass(p: Int): Unit = {
    daily(p)
    bulk()
  }

  private def daily(p: Int): Unit = {
    val transport = new SyntheticSpotify(seed * 100003L + p)
    // self-check in the warm-up: the same seed renders byte-identical responses
    if (p < 0 && new SyntheticSpotify(seed * 100003L + p).digest != transport.digest)
      throw new IllegalStateException("SyntheticSpotify is not deterministic for its seed")
    run("etl_daily_s", "csv", Some(transport), None, transport.expected)
    if (transport.requests > 0) {
      rec.count("extract.s", (transport.lastCallNs - transport.firstCallNs) / 1e9)
      rec.count("extract.requests", transport.requests.toDouble)
      spans.add("extract", "spotify/SpotifyClient",
        spans.spans.lastIndexWhere(s => s != null && s.layer == "spotify/Pipeline"),
        spans.toEpochNs(transport.firstCallNs), spans.toEpochNs(transport.lastCallNs), runId)
    }
  }

  private def bulk(): Unit = run("etl_bulk_s", "parquet", None, Some(bulkRaw), bulkExpected)

  private def run(key: String, format: String, transport: Option[SyntheticSpotify],
      raw: Option[String], expected: Map[String, Long]): Unit = {
    runId += 1
    val base = work.resolve(s"etl/run$runId")
    val t0 = System.nanoTime()
    val res = spans(s"Pipeline.run/$key", "spotify/Pipeline", runId) {
      Pipeline.run(spark, config(base, format), transport.map(new SpotifyClient(_)), raw)
    }
    rec.sample(key, secondsSince(t0))
    rec.count("pipeline.runs", 1)
    rec.outcome(res.status == "success" && res.stats == expected && res.outputs.size == 8,
      s"$key run $runId: status ${res.status} ${res.error.getOrElse("")} stats ${res.stats} expected $expected outputs ${res.outputs.size}")
    if (spans.enabled) {
      val files = res.outputs.values.toSeq.flatMap { out =>
        val s = Files.walk(Paths.get(out))
        try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toList
        finally s.close()
      }
      rec.count("load.files", files.size.toDouble)
      rec.count("load.mb_written", files.map(Files.size).sum / 1e6)
    }
    Main.deleteTree(base)
  }
}

/** Seeded event files drained through the four `EventStreams` queries a
  * fixed number of files at a time. Each query reads its own directory,
  * so linking a pass's files into one directory and draining that query
  * before the next keeps the loop closed. The three continuous queries
  * stay up for the whole run, so every drain is one micro-batch planned
  * incrementally; `maintainUserSpend` restarts from its checkpoint on each
  * drain, which is its contract. The streamed results are checked against
  * the batch twins over the same files at the end of the run.
  */
final class StreamWorkload(ctx: Ctx, sourceFiles: Seq[Path], rowsPerFile: Seq[Long],
    distinctPerFile: Seq[Long], centsPerFile: Seq[Long], filesPerPass: Int) extends Workload {
  import ctx._
  val name = "stream_events"
  val opKey = "batch_s"
  private val root = work.resolve("stream")
  private var moved = 0
  private var opId = 0
  val queries = Seq("hourly_counts", "closed_sessions", "deduped_events", "user_spend")
  private val running = mutable.LinkedHashMap[String, StreamingQuery]()

  private def inRoot(q: String) = root.resolve(s"in/$q")
  private def inDir(q: String) = inRoot(q).resolve("events.parquet")
  private def out(q: String) = root.resolve(s"out/$q").toString
  private def ckpt(q: String) = root.resolve(s"ckpt/$q").toString

  def pass(p: Int): Unit = {
    val batch = sourceFiles.slice(moved, moved + filesPerPass)
    require(batch.nonEmpty, "stream_events ran out of generated event files")
    moved += batch.size
    val events = rowsPerFile.slice(moved - batch.size, moved).sum
    val t0 = System.nanoTime()
    queries.foreach { q =>
      opId += 1
      Files.createDirectories(inDir(q))
      batch.foreach(f => Files.createLink(inDir(q).resolve(f.getFileName), f))
      spans(s"EventStreams.$q", "streaming", opId) {
        try drain(q)
        catch { case e: Exception => rec.fail(s"$q: ${e.getMessage}".take(400)) }
      }
    }
    rec.sample("stream_events_per_s", events / secondsSince(t0))
  }

  private def drain(q: String): Unit = {
    lazy val stream = EventStreams.readEventStream(spark, inDir(q).toString)
    def start(df: DataFrame) = df.writeStream.queryName(q).format("parquet")
      .option("path", out(q)).option("checkpointLocation", ckpt(q)).start()
    q match {
      case "user_spend" => EventStreams.maintainUserSpend(stream, out(q), ckpt(q))
      case _ => running.getOrElseUpdate(q, start(q match {
        case "hourly_counts" => EventStreams.hourlyCounts(stream)
        case "closed_sessions" => EventStreams.closedSessions(spark, stream).toDF()
        case "deduped_events" =>
          EventStreams.dedupedEvents(stream).select("event_id", "user_id", "ts_sec")
      })).processAllAvailable()
    }
  }

  /** Streamed results against the batch twins over the same files. */
  override def finish(): Unit = {
    running.values.foreach(_.stop())
    def events(q: String) = graft.ops.Events.withTimeColumns(spark.read.parquet(inDir(q).toString))
    val checks = Seq[(String, () => Boolean)](
      "hourly_counts" -> { () =>
        val streamed = spark.read.parquet(out("hourly_counts"))
        val batch = graft.ops.Events.hourlyCounts(spark, inRoot("hourly_counts").toString)
          .select("hour", "event_type", "n_events", "sum_value")
        // every window that closed 2 passes before the end must have been emitted
        val maxHour = events("hourly_counts").agg(max("ts_sec")).collect()(0).getLong(0) / 3600
        val closed = batch.filter(
          unix_micros(col("hour").cast("timestamp")) / 3600000000L < maxHour - 2 * filesPerPass - 3)
        streamed.count() >= closed.count() && streamed.exceptAll(batch).isEmpty
      },
      "closed_sessions" -> { () =>
        events("closed_sessions").createOrReplaceTempView("bench_events")
        val batch = spark.sql(
          """WITH g AS (SELECT user_id, ts_sec, CASE WHEN ts_sec - LAG(ts_sec) OVER w > 1800
            |  OR LAG(ts_sec) OVER w IS NULL THEN 1 ELSE 0 END AS fresh
            |  FROM bench_events WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
            |s AS (SELECT user_id, ts_sec, SUM(fresh) OVER (PARTITION BY user_id ORDER BY ts_sec
            |  ROWS UNBOUNDED PRECEDING) AS sid FROM g)
            |SELECT user_id, MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
            |  COUNT(*) AS n_events FROM s GROUP BY user_id, sid""".stripMargin)
        val streamed = spark.read.parquet(out("closed_sessions"))
        streamed.count() > 0 && streamed.exceptAll(batch).isEmpty
      },
      "deduped_events" -> { () =>
        val streamed = spark.read.parquet(out("deduped_events"))
        val want = distinctPerFile.take(moved).sum
        streamed.count() == want && streamed.select("event_id").distinct().count() == want
      },
      "user_spend" -> { () =>
        val state = spark.read.parquet(EventStreams.latestStatePath(spark, out("user_spend")))
        val r = state.agg(sum("n_events"), sum("sum_cents")).collect()(0)
        r.getLong(0) == rowsPerFile.take(moved).sum && r.getLong(1) == centsPerFile.take(moved).sum
      })
    checks.foreach { case (q, check) =>
      val ok = try check() catch { case e: Exception => System.err.println(s"[perfbench] $q check: $e"); false }
      if (!ok) rec.fail(s"$q: streamed output differs from its batch twin")
    }
  }
}

/** Two workloads as one: each pass runs a pass of each part in turn. */
final class Combined(val name: String, parts: Seq[Workload], rec: Recorder) extends Workload {
  val opKey: String = parts.head.opKey
  def pass(p: Int): Unit = parts.foreach { w =>
    val t0 = System.nanoTime()
    w.pass(p)
    rec.sample(s"${w.name}.pass_s", (System.nanoTime() - t0) / 1e9)
  }
  override def finish(): Unit = parts.foreach(_.finish())
}
