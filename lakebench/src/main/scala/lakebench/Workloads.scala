package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Medallion
import graft.table.ManagedTable

/** Helpers the workloads share. */
object Workloads {
  /** Deletes `dir` and everything under it, if it exists. */
  def clean(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }

  /** A fresh medallion warehouse at `dir`: bronze, silver and gold built
    * from the base tables under `base`.
    */
  def medallion(spark: SparkSession, dir: String, base: String): Medallion = {
    clean(dir)
    val m = new Medallion(spark, dir, base)
    m.runBronze()
    m.runSilver()
    m.runGold()
    m
  }

  private def localPath(uri: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(uri))

  /** Bytes of the data files a table's current snapshot reads. */
  def liveBytes(tables: Seq[ManagedTable]): Double =
    tables.filter(_.exists).map(_.read.inputFiles.map(f => java.nio.file.Files.size(localPath(f))).sum)
      .sum.toDouble

  /** Live data files and committed versions, summed over `tables`. */
  def tableFacts(tables: Seq[ManagedTable]): Map[String, Double] = {
    val ts = tables.filter(_.exists)
    Map(
      "table.files_live" -> ts.map(_.read.inputFiles.length).sum.toDouble,
      "table.versions" -> ts.map(_.version + 1).sum.toDouble)
  }

  /** `df` without one of its rows. */
  def dropOne(df: DataFrame): DataFrame = df.exceptAll(df.limit(1))

  /** `df` with column `c` of one row replaced by `v`. */
  def alterOne(df: DataFrame, c: String, v: Column): DataFrame = {
    val one = df.limit(1).cache()
    df.exceptAll(one).unionByName(one.withColumn(c, v.cast(df.schema(c).dataType)))
  }
}
