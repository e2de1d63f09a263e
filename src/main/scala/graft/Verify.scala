package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Write timestamps as TIMESTAMP_MICROS (not INT96): arrow then reads
      // the dump as timestamp[us], the exact type DuckDB's oracle emits, so
      // the driver's type-sensitive hash needs no unit normalization.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Legacy testdata shape: events.ts has shipped as parquet
      // TIMESTAMP(NANOS), which Spark can only read as a raw-nanos long.
      // No-op on timestamp[us] files; without it a NANOS file fails at
      // analysis before Events.withTimeColumns can adapt.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev lever: SPARK_GRAFT_ONLY=q69_...,q86_... dumps
    // (and lists oracle SQL for) a subset — used for targeted sf0.1
    // spot-checks of the iterative family. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def included(name: String): Boolean = only.forall(_.contains(name))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => included(kv._1)).foreach { case (name, fn) =>
      // release the previous query's cached plans and localCheckpoint
      // RDDs (iterative pipelines leave them behind); each dump is
      // self-contained, so nothing live is dropped
      graft.ops.CachedStages.release(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(800)
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
    val json = SparkEntry.oracleSql.filter(kv => included(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that threw has no output dir, which a checker iterating
    // over outputs would silently SKIP (round 9: 17 analysis errors
    // left zero trace in the correctness artifact). errors.json makes
    // every registered-but-undumped query and its error part of the
    // dump itself; check_oracle.py folds it into the FAIL report.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
