package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // match Verify: legacy TIMESTAMP(NANOS) parquet reads as raw
    // longs (the LongType branch of Events.withTimeColumns) instead of
    // failing at analysis; no-op on timestamp[us] fixtures
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixturePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}
