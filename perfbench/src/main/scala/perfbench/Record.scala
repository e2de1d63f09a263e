package perfbench

import graft.SparkEntry
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** Records the reference outputs of both catalog mixes: each query's
  * fingerprint, its result as one parquet file, and its DuckDB oracle SQL,
  * for `record_expected.py` to cross-check and store.
  *
  *     perfbench.Record <catalog_dir> <out_dir> <cores>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, cores) = args
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = (CatalogWorkload.short ++ CatalogWorkload.iterative).map(_._1)
    val fps = names.map { q =>
      graft.ops.CachedStages.release(spark, blocking = true)
      spark.catalog.clearCache()
      val fp = Fingerprint(SparkEntry.queries(q)(spark, dir))
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      System.err.println(s"[record] $q $fp")
      q -> fp
    }
    Main.mapper.writeValue(Paths.get(out, "fingerprints.json").toFile, ListMap(fps: _*))
    Main.mapper.writeValue(Paths.get(out, "oracle_sql.json").toFile,
      ListMap(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)): _*))
    spark.stop()
  }
}
