package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Protocol / table-feature versioning: a table demanding a feature this
  * build doesn't know must fail FAST and CLEARLY — wrong results (e.g.
  * resurrected DV-deleted rows) are never an acceptable fallback.
  */
class ProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): ManagedTable = {
    val t = new ManagedTable(spark, tmpDir(name) + "/t")
    // this suite asserts protocol-set SHAPES from a no-feature baseline
    // — pin the inline-JSON log so ambient soak defaults can't register
    // checkpoint features into the sets under test
    t.setProperties(Map("graft.manifest.checkpointFormat" -> "json"))
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    t
  }

  private def writeProtocol(t: ManagedTable, lines: Seq[String]): Unit = {
    val log = new java.io.File(t.path + "._log")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(log.getPath, "_protocol.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("plain tables carry no protocol and read/write freely") {
    val t = freshTable("proto-plain")
    assert(t.protocol == ((Set.empty[String], Set.empty[String])))
    assert(t.read.count() == 3)
    t.append(Seq((4L, "d")).toDF("id", "s"))
    assert(t.read.count() == 4)
  }

  test("unknown READER feature blocks reads with a clear error") {
    val t = freshTable("proto-reader")
    writeProtocol(t, Seq("reader:future-magic", "writer:future-magic"))
    val fresh = new ManagedTable(spark, t.path) // new handle: no stale cache
    val e = intercept[UnsupportedOperationException](fresh.read.count())
    assert(e.getMessage.contains("future-magic"))
    assert(e.getMessage.contains("upgrade"))
    intercept[UnsupportedOperationException](fresh.countFast())
    intercept[UnsupportedOperationException](fresh.readVersion(0))
  }

  test("unknown WRITER feature blocks mutations but not reads") {
    val t = freshTable("proto-writer")
    writeProtocol(t, Seq("writer:append-only-v9"))
    val fresh = new ManagedTable(spark, t.path)
    assert(fresh.read.count() == 3) // readable: reader set is empty
    val e = intercept[UnsupportedOperationException](
      fresh.append(Seq((9L, "z")).toDF("id", "s")))
    assert(e.getMessage.contains("append-only-v9"))
    assert(fresh.read.count() == 3) // nothing committed
  }

  test("vectored DELETE auto-registers the deletion-vectors reader feature") {
    val t = freshTable("proto-dv")
    assert(t.protocol._1.isEmpty)
    t.deleteVectored(col("id") === 2L)
    assert(t.protocol._1.contains("deletion-vectors"))
    assert(t.read.count() == 2) // this build supports it: still readable
  }

  test("shallow clone registers shallow-clone on the CLONE only") {
    val src = freshTable("proto-clone")
    val clone = src.shallowCloneTo(tmpDir("proto-clone-dst") + "/c")
    assert(clone.protocol._1.contains("shallow-clone"))
    assert(!src.protocol._1.contains("shallow-clone"))
    assert(clone.read.count() == 3)
  }

  test("declarative table metadata registers writer features") {
    val t = freshTable("proto-meta")
    t.addConstraint("id_pos", "id > 0")
    assert(t.protocol._2.contains("check-constraints"))
    assert(t.protocol._1.isEmpty) // constraints never gate reads
    t.addBloomIndex("id", 100L)
    assert(t.protocol._2.contains("bloom-index"))
  }

  test("DROP FEATURE retires a gate only once nothing on disk needs it") {
    import org.apache.spark.sql.functions.col
    val t = new ManagedTable(spark, tmpDir("proto-drop") + "/t")
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "1"))
    t.overwrite(spark.range(40).toDF("id").repartition(2))
    // deletion-vectors: refused while bitmaps live, refused while a
    // TRAVELABLE version still carries them, drops after history expiry
    t.deleteVectored(col("id") % 4 === 1)
    assert(t.protocol._1.contains("deletion-vectors"))
    val e1 = intercept[IllegalArgumentException] {
      t.dropTableFeature("deletion-vectors") }
    assert(e1.getMessage.contains("purge"))
    t.purgeDeletes()
    val e1b = intercept[IllegalArgumentException] {
      t.dropTableFeature("deletion-vectors") }
    assert(e1b.getMessage.contains("time-travel"))
    t.cleanupLog(t.version) // expire the DV-carrying versions
    t.dropTableFeature("deletion-vectors")
    assert(!t.protocol._1.contains("deletion-vectors"))
    // row-tracking: refused while enabled, refused while materialized
    // files remain, drops after disable + clean rewrite
    t.enableRowTracking()
    t.compact(numFiles = 1) // materializes ids
    val e2 = intercept[IllegalArgumentException] {
      t.dropTableFeature("row-tracking") }
    assert(e2.getMessage.contains("enabled"))
    t.unsetProperties(Seq("graft.rowTracking"))
    val e3 = intercept[IllegalArgumentException] {
      t.dropTableFeature("row-tracking") }
    assert(e3.getMessage.contains("materialized"))
    t.compact(numFiles = 1) // tracking off: rewrites WITHOUT the id column
    // the live files are clean now, but the pre-rewrite materialized files
    // sit in retained snapshot dirs that time travel still reaches — the
    // drop must refuse until vacuum has expired them (a feature-less build
    // time-traveling would surface _graft_row_id as user data)
    val e3b = intercept[IllegalArgumentException] {
      t.dropTableFeature("row-tracking") }
    assert(e3b.getMessage.contains("retained"))
    // a minute in the future, NOT now(): rapid commits floor their
    // recorded timestamps at prev + 1 ms (the ICT discipline), which can
    // run a few ms AHEAD of the wall clock — a now() cutoff then leaves
    // the last version in-window and the drop refuses (observed flake)
    t.vacuumVersions(java.time.Instant.now().plusSeconds(60))
    t.dropTableFeature("row-tracking")
    assert(!t.protocol._1.contains("row-tracking") &&
      !t.protocol._2.contains("row-tracking"))
    assert(t.read.count() == 30)
    // unknown / unset features are refused with a pointed message
    val e4 = intercept[IllegalArgumentException] {
      t.dropTableFeature("no-such-feature") }
    assert(e4.getMessage.contains("not set"))
    // writer features gating declared metadata refuse while declared
    t.addConstraint("pos", "id >= 0")
    val e5 = intercept[IllegalArgumentException] {
      t.dropTableFeature("check-constraints") }
    assert(e5.getMessage.contains("pos"))
    t.dropConstraint("pos")
    t.dropTableFeature("check-constraints")
    // and the SQL form drives the same path
    t.deleteVectored(col("id") === 2)
    t.purgeDeletes()
    t.cleanupLog(t.version)
    graft.sql.GraftSql.sql(spark,
      s"ALTER TABLE '${t.path}' DROP FEATURE 'deletion-vectors'")
    assert(!t.protocol._1.contains("deletion-vectors"))
  }
}
