package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Distributed scan planning (`graft.metadata.distributedPlanning`): file
  * pruning as a Spark job over stats-bearing parquet checkpoint rows —
  * the huge-file-count regime where the driver fold's heap is the
  * ceiling. The invariant under test: the distributed prune and the
  * driver fold agree EXACTLY (they share `MetadataPlane.keepForRange`),
  * and reads stay bit-identical whichever path planned them.
  */
class DistributedPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def clustered = spark.range(0, 4000).selectExpr(
    "id as k",
    "cast(id as double) / 7 as x",
    "format_string('s%04d', id) as s",
    "date_add(date'2024-01-01', cast(id / 40 as int)) as d",
    "timestamp_seconds(1700000000 + id * 60) as ts")

  /** A range-clustered table whose current snapshot is a stats-bearing
    * parquet checkpoint (interval 1 → every commit checkpoints).
    */
  private def mk(dir: String): ManagedTable = {
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(clustered.limit(1)) // seed (v0, inline JSON)
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(clustered.repartitionByRange(8, col("k"))
      .sortWithinPartitions("k"))
    t
  }

  private def driverKept(t: ManagedTable, c: String, lo: Any, hi: Any): Set[String] = {
    t.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
    try t.filesOverlapping(c, lo, hi)._1.toSet
    finally t.setProperties(Map("graft.metadata.distributedPlanning" -> "always"))
  }

  test("distributed prune matches the driver fold exactly across stat kinds") {
    val t = mk(tmpDir("dp-parity"))
    val preds: Seq[(String, Any, Any)] = Seq(
      ("k", 100L, 220L),
      ("x", 10.0, 30.0),
      ("s", "s0100", "s0220"),
      ("d", java.sql.Date.valueOf("2024-01-03"), java.sql.Date.valueOf("2024-01-05")),
      ("ts", java.time.Instant.ofEpochSecond(1700003600L),
        java.time.Instant.ofEpochSecond(1700010000L)))
    preds.foreach { case (c, lo, hi) =>
      val dist = t.keptByStatsDistributed(Seq((c, lo, hi)))
      assert(dist.isDefined, s"$c: no checkpoint to plan from?")
      assert(dist.get.toSet == driverKept(t, c, lo, hi),
        s"$c: distributed and driver prune disagree")
      assert(dist.get.size < 8, s"$c: nothing pruned — test layout broken")
    }
    // conjunctive predicates intersect
    val multi = t.keptByStatsDistributed(Seq(("k", 100L, 220L), ("x", 10.0, 30.0)))
    assert(multi.get.toSet ==
      driverKept(t, "k", 100L, 220L).intersect(driverKept(t, "x", 10.0, 30.0)))
    // and the planned READ is exact
    assert(t.readWhere("k", 100L, 220L).select("k").as[Long].collect().sorted.toSeq
      == (100L to 220L).toSeq)
  }

  test("null bounds keep every live file; results stay exact") {
    val t = mk(tmpDir("dp-null"))
    val dist = t.keptByStatsDistributed(Seq(("k", null, 10L)))
    assert(dist.get.size == 8, "a null bound must not prune")
    assert(t.readWhere("k", null, 10L).count() == 0) // SQL null comparison
  }

  test("appends after the checkpoint participate through the delta fold") {
    val t = mk(tmpDir("dp-churn"))
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "100"))
    t.append(Seq((9999L, 0.0, "zzz", java.sql.Date.valueOf("2030-01-01"),
      java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      .toDF("k", "x", "s", "d", "ts")) // a DELTA manifest, not a checkpoint
    val dist = t.keptByStatsDistributed(Seq(("k", 9999L, 9999L)))
    assert(dist.isDefined)
    assert(dist.get.toSet == driverKept(t, "k", 9999L, 9999L))
    assert(t.readWhere("k", 9999L, 9999L).count() == 1)
    // the add's own (sidecar-segment) stats prune it for a miss range
    val miss = t.keptByStatsDistributed(Seq(("k", 5000L, 6000L)))
    assert(miss.get.isEmpty)
  }

  test("a fully DV-deleted file is pruned by both paths") {
    val t = mk(tmpDir("dp-dv"))
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "100"))
    // empty exactly the file holding k=0: range boundaries are SAMPLED
    // (RDD-id-seeded), so a fixed cut like k<500 can straddle a file edge
    // depending on how many RDDs ran before this test
    val firstFileMax = t.read
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"))
      .orderBy("mn").limit(1).select("mx").as[Long].head()
    t.deleteVectored(col("k") <= firstFileMax)
    val probeHi = math.min(100L, firstFileMax)
    val dist = t.keptByStatsDistributed(Seq(("k", 0L, probeHi)))
    assert(dist.get.isEmpty, "an emptied file must be pruned")
    assert(dist.get.toSet == driverKept(t, "k", 0L, probeHi))
    assert(t.readWhere("k", 0L, 600L).count() == 600 - firstFileMax)
  }

  test("a v1 path-only checkpoint keeps every file (conservative), reads exact") {
    val dir = tmpDir("dp-v1")
    val t = mk(dir)
    // rewrite the live checkpoint in the v1 shape: paths, no metadata
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val latest = fs.listStatus(log).map(_.getPath)
      .filter(_.getName.endsWith(".checkpoint.parquet")).maxBy(_.getName)
    val paths = t.readCheckpointParquetFull(latest).map(_._1)
    t.writeCheckpointParquet(latest, paths.map(_ -> None))
    val dist = t.keptByStatsDistributed(Seq(("k", 100L, 220L)))
    assert(dist.get.size == 8, "v1 rows carry no stats: keep all")
    assert(t.readWhere("k", 100L, 220L).select("k").as[Long].collect().sorted.toSeq
      == (100L to 220L).toSeq)
  }

  test("null-count predicates prune through the distributed planner") {
    val t = new ManagedTable(spark, tmpDir("dp-nulls") + "/t")
    t.overwrite(spark.range(1).selectExpr("id as k", "cast(id as double) as x"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(spark.range(0, 4000).selectExpr("id as k",
        "CASE WHEN id < 500 THEN NULL ELSE cast(id as double) / 7 END as x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    // IS NULL: only the one file whose range holds the nulls scans
    assert(t.readWhereNull("x").count() == 500)
    assert(files(t.readWhereNull("x")) <= 2, // range boundaries are sampled
      "IS NULL must prune to the files holding the null range")
    // IS NOT NULL: every file still holds non-nulls here — all kept, exact
    assert(t.readWhereNotNull("x").count() == 3500)
    // parity with the driver fold
    t.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
    try {
      assert(t.readWhereNull("x").count() == 500)
      assert(files(t.readWhereNull("x")) <= 2)
      assert(t.readWhereNotNull("x").count() == 3500)
    } finally t.setProperties(
      Map("graft.metadata.distributedPlanning" -> "always"))
  }

  test("readPoint routes both halves through the planner and stays exact") {
    val t = mk(tmpDir("dp-point"))
    t.addBloomIndex("s")
    def run() = t.readPoint("s", "s0123").select("k").as[Long].collect().toSeq
    val distRes = run() // always mode: stats prune + bloom probe as jobs
    assert(distRes == Seq(123L))
    t.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
    try assert(run() == distRes, "driver and distributed point reads differ")
    finally t.setProperties(
      Map("graft.metadata.distributedPlanning" -> "always"))
  }

  test("ANALYZE, SHOW PARTITIONS and metadata COUNT(*) fold identically " +
      "in both venues (adds and DVs included)") {
    val dir = tmpDir("dp-meta")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(spark.range(1)
      .selectExpr("id as k", "cast(id as double) as x", "'d0' as day"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(spark.range(0, 400).selectExpr("id as k",
        "CASE WHEN id < 50 THEN NULL ELSE cast(id as double) / 7 END as x",
        "concat('d', cast(id % 4 as string)) as day"),
      partitionCols = Seq("day"))
    // post-checkpoint churn: a delta append + a DV delete
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "100"))
    t.append(Seq((9999L, 3.5, "d1")).toDF("k", "x", "day"))
    t.deleteVectored(col("k") === 7L)
    def inDriverMode[A](f: => A): A = {
      t.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
      try f
      finally t.setProperties(
        Map("graft.metadata.distributedPlanning" -> "always"))
    }
    // metadata COUNT(*)
    val cntDist = t.countFast()
    assert(cntDist == 400L) // 400 + 1 append - 1 DV-deleted
    assert(cntDist == inDriverMode(t.countFast()))
    // ANALYZE
    def statsRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val csDist = statsRows(t.columnStats())
    assert(csDist == inDriverMode(statsRows(t.columnStats())),
      "columnStats venues disagree")
    assert(csDist.nonEmpty)
    // SHOW PARTITIONS
    def partRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val spDist = partRows(t.partitions())
    assert(spDist == inDriverMode(partRows(t.partitions())),
      "partitions venues disagree")
    assert(spDist.size == 4)
  }

  test("a delta that re-adds a checkpoint path is counted once and " +
      "decided on current stats (restore-as-delta shape)") {
    val dir = tmpDir("dp-readd")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(spark.range(1).selectExpr("id as k", "'d0' as day"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(spark.range(0, 400).selectExpr("id as k",
        "concat('d', cast(id % 4 as string)) as day"),
      partitionCols = Seq("day")) // v2: parquet checkpoint
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val ckpt = fs.listStatus(log).map(_.getPath)
      .filter(_.getName.endsWith(".checkpoint.parquet")).maxBy(_.getName)
    val rows = t.readCheckpointParquetFull(ckpt)
    val f0 = rows.head._1
    // hand-craft the next version: a delta RE-ADDING a path the
    // checkpoint already carries (what a restore recorded as a delta
    // would produce) — the distributed folds must serve f0 from the adds
    // side ONCE, not from both the checkpoint row and the add
    val nv = t.version + 1
    val vNext = new org.apache.hadoop.fs.Path(log, f"v$nv%05d.json")
    val out = fs.create(vNext, true)
    try out.write((s"""{"version":$nv,"timestamp":"2026-01-01T00:00:00Z",""" +
      s""""operation":"RESTORE","partitionColumns":["day"],""" +
      s""""numFiles":${rows.size},"sizeInBytes":0,"rowCount":400,""" +
      s""""add":["$f0"],"remove":[]}""").getBytes("UTF-8"))
    finally out.close()
    val t3 = new ManagedTable(spark, dir + "/t")
    def inDriverMode[A](f: => A): A = {
      t3.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
      try f
      finally t3.setProperties(
        Map("graft.metadata.distributedPlanning" -> "always"))
    }
    val cnt = t3.countFast()
    assert(cnt == 400L) // the v2 snapshot's rows, f0 counted once
    assert(cnt == inDriverMode(t3.countFast()),
      "re-added path double-counted by the distributed fold")
    assert(t3.partitions().collect().map(_.toString).toSeq ==
      inDriverMode(t3.partitions().collect().map(_.toString).toSeq))
    assert(t3.columnStats().collect().map(_.toString).sorted.toSeq ==
      inDriverMode(t3.columnStats().collect().map(_.toString).sorted.toSeq))
    // the planner also serves the re-added file exactly once
    val kept = t3.keptByStatsDistributed(Seq(("k", 0L, 1000L)))
    assert(kept.get.distinct.size == kept.get.size)
  }

  test("no parquet checkpoint -> None; the driver fold serves the read") {
    val t = new ManagedTable(spark, tmpDir("dp-json") + "/t")
    // pin the founding commit to inline JSON BEFORE it happens — the test
    // IS "no parquet base exists", which ambient soak defaults would break
    t.setProperties(Map("graft.manifest.checkpointFormat" -> "json"))
    t.overwrite(spark.range(100).selectExpr("id as k")
      .repartitionByRange(4, col("k")))
    t.setProperties(Map("graft.metadata.distributedPlanning" -> "always"))
    assert(t.keptByStatsDistributed(Seq(("k", 0L, 10L))).isEmpty)
    assert(t.readWhere("k", 0L, 10L).count() == 11)
  }
}
