package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parquet checkpoint manifests (`graft.manifest.checkpointFormat =
  * parquet`): columnar checkpoint
  * sidecars + pointer manifests, driver-side read/write, reader feature
  * gating, and survival through the swap/remap and retention machinery.
  */
class ParquetCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def mk(dir: String): ManagedTable = {
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "2"))
    t
  }

  test("checkpoint commits write a parquet sidecar; reconstruction and " +
      "time travel fold through it") {
    val dir = tmpDir("pc-basic")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    // interval 2: several parquet checkpoints must exist, JSON has pointers
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val ckpts = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.parquet"))
    assert(ckpts.nonEmpty, "no parquet checkpoint written")
    assert(t.protocol._1.contains("checkpoint-parquet"))
    // current read and every travelable version reconstruct correctly
    assert(t.read.count() == 6)
    for (v <- 0L to t.version)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v reconstructed wrong row count")
  }

  test("swap-based rewrites remap the parquet checkpoints' rows") {
    val dir = tmpDir("pc-remap")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val vBefore = t.version
    // an overwrite retires the live dir into a snapshot (remap path): the
    // historical parquet checkpoints must follow the moved files
    t.overwrite(Seq((99L, "new")).toDF("k", "v"))
    assert(t.read.as[(Long, String)].collect().toSet == Set((99L, "new")))
    for (v <- 0L to vBefore)
      assert(t.readVersion(v).count() == v + 1,
        s"pre-swap version $v must still reconstruct through the remapped " +
          "parquet checkpoint")
  }

  test("a build without the feature refuses the table (reader gate)") {
    val dir = tmpDir("pc-gate")
    val t = mk(dir)
    t.append(Seq((1L, "a")).toDF("k", "v")) // v1: delta manifest
    t.append(Seq((2L, "b")).toDF("k", "v")) // v2: parquet checkpoint
    assert(t.protocol._1.contains("checkpoint-parquet"))
    // simulate the unaware build: the gate is a reader feature, so the
    // refusal machinery is requireReadable (exercised via ProtocolSpec's
    // pattern — here we assert the feature is recorded as READER-side)
    val (r, _) = t.protocol
    assert(r.contains("checkpoint-parquet"))
  }

  test("DROP FEATURE refuses while parquet checkpoints remain, succeeds " +
      "after a JSON re-checkpoint + log cleanup") {
    val dir = tmpDir("pc-drop")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val e1 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet") }
    assert(e1.getMessage.contains("checkpointFormat"))
    // switch the format OFF parquet explicitly (an unset alone would fall
    // through to whatever ambient GRAFT_PROPERTY_DEFAULTS supplies)
    t.setProperties(Map("graft.manifest.checkpointFormat" -> "json"))
    val e2 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet") }
    assert(e2.getMessage.contains("parquet checkpoint"))
    t.compact(numFiles = 1) // JSON-format checkpoint at the head
    t.cleanupLog(t.version) // expires every parquet-checkpoint manifest
    t.dropTableFeature("checkpoint-parquet")
    assert(!t.protocol._1.contains("checkpoint-parquet"))
    assert(t.read.count() == 4)
  }

  test("retention cleanup deletes expired parquet sidecars with their " +
      "manifests") {
    val dir = tmpDir("pc-clean")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    t.cleanupLog(t.version)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val names = fs.listStatus(log).map(_.getPath.getName)
    val horizon = names.filter(_.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).min
    val staleCkpts = names.filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripPrefix("v").stripSuffix(".checkpoint.parquet").toLong)
      .filter(_ < horizon)
    assert(staleCkpts.isEmpty,
      s"expired parquet checkpoints left behind: $staleCkpts")
    assert(t.read.count() == 6) // head still serves
  }
  test("cleanupLog refuses to anchor on a pointer manifest whose sidecar " +
      "is missing") {
    val dir = tmpDir("pc-dangle")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    // simulate the remap delete->rename crash window on the v2 checkpoint:
    // the pointer manifest stays, its sidecar is gone
    val dangling = new org.apache.hadoop.fs.Path(log, "v00002.checkpoint.parquet")
    assert(fs.exists(dangling), "test setup: v2 should be a parquet checkpoint")
    fs.delete(dangling, false)
    // horizon request 3 walks back: v3 delta, v2 DANGLING pointer -- the
    // guard must fall through to the intact v0 checkpoint and delete
    // nothing, instead of anchoring on v2 and deleting v0/v1
    t.cleanupLog(3L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "v00000.json")),
      "v0 manifest deleted while the v2 anchor's sidecar is missing")
    assert(t.readVersion(1L).count() == 2)
    assert(t.read.count() == 6)
    // an INTACT later checkpoint still anchors normally
    t.cleanupLog(5L) // rounds down to the intact v4
    assert(!fs.exists(new org.apache.hadoop.fs.Path(log, "v00000.json")))
    assert(t.readVersion(4L).count() == 5)
    assert(t.read.count() == 6)
  }

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  test("cleanupLog reaps crash-orphaned checkpoint part tmp files") {
    val dir = tmpDir("pcm-tmp")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    // a part tmp (the multi-part layout of older builds) and a
    // single-sidecar tmp, both left by crashed writers
    val orphans = Seq("v00099.p000.checkpoint.parquet.tmp-deadbeef",
      "v00098.checkpoint.parquet.tmp-0badf00d")
      .map(n => new org.apache.hadoop.fs.Path(log, n))
    orphans.foreach { o =>
      val out = hfs.create(o, true)
      try out.write("junk".getBytes("UTF-8")) finally out.close()
    }
    // every checkpoint-sidecar writer holds the lease cleanupLog holds,
    // so no tmp can be a live write: the reap needs no age gate
    t.cleanupLog(0L) // horizon 0: deletes nothing, but the reap sweep runs
    orphans.foreach(o =>
      assert(!hfs.exists(o), s"orphaned tmp $o survived cleanupLog"))
    assert(t.read.count() == 4)
  }

  test("file-granular retirement (PURGE) remaps parquet checkpoint rows") {
    val dir = tmpDir("pc-purge")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val vBefore = t.version // v3 (delta over the v2 parquet checkpoint)
    t.deleteVectored(col("k") === 1L)
    t.purgeDeletes() // retires the DV'd file; checkpoint rows must follow
    assert(t.read.count() == 3)
    for (v <- 0L to vBefore)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v must reconstruct through the file-granular remap")
  }
}
