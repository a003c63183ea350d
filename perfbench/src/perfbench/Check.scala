package perfbench

import graft.pipeline.Checkpoint
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Outcome of checking one committed output directory. `failed` counts
  * input documents whose committed row is missing, duplicated, carries a
  * decode failure or an error the document does not call for, or whose
  * text or title differs from the closed-form expectation, plus committed
  * urls that are not in the input. */
final case class CheckResult(attempted: Long, failed: Long, manifestUrls: Long, notes: Seq[String])

object Check {

  /** Compare one output's committed table (`Checkpoint.readExtracted`) with
    * `docs`, byte for byte, and count its manifest urls. Counts only; no row
    * is filtered out. */
  def apply(spark: SparkSession, out: String, docs: IndexedSeq[Doc]): CheckResult = {
    val rows = Checkpoint.readExtracted(spark, out)
      .select("url", "text", "title", "error", "decode_failures").collect()
    val manifestUrls = Checkpoint.doneUrls(spark, out).map(_.count()).getOrElse(0L)
    val expected = docs.iterator.map(d => d.url -> d).toMap
    val seen = mutable.HashMap.empty[String, Int]
    val bad = mutable.HashSet.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]
    def note(s: String): Unit = if (notes.length < 5) notes += s
    var extra = 0L
    rows.foreach { r =>
      val url = r.getString(0)
      val n = seen.getOrElse(url, 0) + 1
      seen(url) = n
      expected.get(url) match {
        case None => extra += 1; note(s"unexpected url $url")
        case Some(d) =>
          if (n > 1) { bad += url; note(s"duplicate $url") }
          else if (r.getString(1) != d.expectedText || r.getString(2) != d.expectedTitle) {
            bad += url; note(s"text or title mismatch $url (${d.kind}/${d.variant})")
          } else if (r.getInt(4) != 0 || !errorExpected(Option(r.getString(3)).getOrElse(""), d)) {
            bad += url; note(s"error on $url: ${Option(r.getString(3)).getOrElse("").take(200)}")
          }
      }
    }
    docs.foreach(d => if (!seen.contains(d.url)) { bad += d.url; note(s"missing ${d.url}") })
    CheckResult(docs.length, bad.size + extra, manifestUrls, notes.toSeq)
  }

  private def errorExpected(error: String, d: Doc): Boolean =
    if (d.expectedError.isEmpty) error.isEmpty else error.startsWith(d.expectedError)

  /** Rewrite one committed data batch with `url`'s text altered — the
    * self-test's injected mismatch. */
  def corruptRow(spark: SparkSession, outDir: String, url: String): Unit = {
    val root = new Path(Checkpoint.dataPath(outDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("batch_"))
      .find(p => spark.read.parquet(p.toString).where(col("url") === url).count() > 0)
      .getOrElse(sys.error(s"$url is in no committed batch"))
    val tmp = new Path(root, ".corrupt_tmp")
    spark.read.parquet(batch.toString)
      .withColumn("text", when(col("url") === url, concat(col("text"), lit("#"))).otherwise(col("text")))
      .write.parquet(tmp.toString)
    fs.delete(batch, true)
    require(fs.rename(tmp, batch), s"rename $tmp -> $batch failed")
  }
}
