package graft

import java.io.File
import java.nio.file.Files

/** Pins what [[GraftSession.create]] hands every caller, and the
  * scratch-dir sweep behind [[GraftSession.fastLocalDir]].
  */
class GraftSessionSpec extends SparkSpec {

  test("a factory session reads the engine's effective settings") {
    val expected = Seq(
      "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
      "spark.shuffle.sort.bypassMergeThreshold" -> "2",
      "spark.local.dir" -> GraftSession.fastLocalDir,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // Spark's defaults, which the factory no longer restates
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val warehouse = new File(System.getProperty("java.io.tmpdir"), "graft_warehouse")
    assert(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") ==
      warehouse.getAbsolutePath)
  }

  test("newSession() resolves graft_* functions without register") {
    val s2 = spark.newSession()
    val sql = "SELECT graft_hash64('flu') AS h"
    assert(s2.sql(sql).collect()(0).getLong(0) == spark.sql(sql).collect()(0).getLong(0))
  }

  test("the scratch sweep removes dead owners' dirs and keeps live ones, however old") {
    val root = Files.createTempDirectory("graft_sweep").toFile
    def ownedBy(pid: Long): File = {
      val d = new File(root, pid.toString)
      assert(new File(d, "blockmgr-0").mkdirs())
      d
    }
    val live = ownedBy(ProcessHandle.current().pid())
    live.setLastModified(System.currentTimeMillis() - 7L * 24 * 3600 * 1000)
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val dead = ownedBy(exited.pid())
    val unowned = new File(root, "spark-unowned")
    assert(unowned.mkdirs())

    GraftSession.sweepDeadOwners(root)

    assert(live.isDirectory, "a live session's scratch dir was swept")
    assert(!dead.exists, "a dead session's scratch dir survived")
    assert(unowned.isDirectory, "a dir not named by a pid was swept")
  }
}
