package graft.table

import graft.SparkSpec

/** Tables written by older builds that still had asynchronous ("retro")
  * checkpoints and multi-part parquet checkpoints. Their reader features
  * name layouts this build cannot reconstruct, so reads must fail closed;
  * their leftover table properties select nothing any more and must be
  * ignored.
  */
class RetiredCheckpointFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private val retiredReaderFeatures =
    Seq("checkpoint-retro", "checkpoint-parquet-multipart")

  private val retiredProperties = Map(
    "graft.manifest.asyncCheckpoint" -> "true",
    "graft.manifest.checkpointPartSize" -> "2",
    "graft.manifest.checkpointFromState" -> "false",
    "graft.manifest.verifyDirInMaintenance" -> "false")

  private def logDir(t: ManagedTable) = new java.io.File(t.path + "._log")

  test("a table recording a retired checkpoint reader feature is refused, " +
      "never read wrong") {
    retiredReaderFeatures.foreach { feature =>
      val t = new ManagedTable(spark, tmpDir("retired-feature") + "/t")
      t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir(t).getPath, "_protocol.txt"),
        Seq(s"reader:$feature", s"writer:$feature").mkString("\n")
          .getBytes("UTF-8"))
      assert(!t.supportedReaderFeatures.contains(feature))
      val fresh = new ManagedTable(spark, t.path)
      val e = intercept[UnsupportedOperationException](fresh.read.count())
      assert(e.getMessage.contains(feature))
      intercept[UnsupportedOperationException](fresh.readVersion(0))
      intercept[UnsupportedOperationException](fresh.countFast())
      intercept[UnsupportedOperationException](
        fresh.append(Seq((3L, "c")).toDF("k", "v")))
    }
  }

  test("a table whose properties still set the retired checkpoint options " +
      "reads, appends and checkpoints normally") {
    val t = new ManagedTable(spark, tmpDir("retired-props") + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    t.setProperties(retiredProperties ++ Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "2"))
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val names = logDir(t).list().toSeq
    // the checkpoint-due commits wrote one parquet sidecar each, in-commit:
    // no retro pointer dir, no part files
    assert(!names.contains("_checkpoints.d"))
    assert(!names.exists(_.matches("""v\d+\.p\d+\.checkpoint\.parquet""")))
    assert(Seq(2, 4).forall(v =>
      names.contains(f"v$v%05d.checkpoint.parquet")), names.sorted)
    val v4 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(logDir(t).getPath, "v00004.json")), "UTF-8")
    assert(v4.contains("\"filesParquet\":"), v4)
    assert(t.protocol._1 == Set("checkpoint-parquet"))
    val fresh = new ManagedTable(spark, t.path)
    assert(fresh.read.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (0L to 5L))
    for (v <- 0L to fresh.version)
      assert(fresh.readVersion(v).count() == v + 1)
  }
}
