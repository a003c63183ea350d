package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

/** Table access seam: the pipeline reads/writes through this object so the
  * storage format is a configuration, not a code change. In this sandbox the
  * "Iceberg table of Common-Crawl-style pages" is parquet + the Checkpoint
  * manifest (no Iceberg runtime jar offline — SURVEY.md §7); on a real
  * deployment set `spark.graft.table.format=iceberg` and the same calls go
  * through the Iceberg catalog (`format("iceberg")` with a table identifier),
  * whose snapshots subsume the manifest's resume role. */
object TableIO {
  private[pipeline] def format(spark: SparkSession): String =
    spark.conf.get("spark.graft.table.format", "parquet")

  def readPages(spark: SparkSession, table: String): Dataset[PageRow] =
    spark.read.format(format(spark)).load(table)
      .select("url", "warc_ts", "html", "text", "lang")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
}
