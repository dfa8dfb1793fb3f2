package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: Bench, Verify, Probe, the demos,
  * the benchmark harness and the test suite all build their session
  * through [[create]], so they all run the conf that ships. It sets
  * only what differs from Spark's defaults (AQE, with partition
  * coalescing and skew-join splitting, is already on by default).
  */
object GraftSession {

  /** Scratch directory for shuffle blocks and checkpoint spill:
    * `SPARK_LOCAL_DIRS` when set (a cluster points it at its NVMe
    * scratch), else a per-JVM subdir of tmpfs.
    *
    * Thread-dump profiling showed the engine file-METADATA-bound on
    * its many small shuffles (FileOutputStream.open / mmap / unmap was
    * ~80% of runnable executor samples): this host's /tmp (ext4 on
    * virtio) costs ~0.22 ms per file create+delete, tmpfs ~0.01 ms.
    * tmpfs is only used when it has real headroom: its blocks consume
    * RAM (typically capped at 50% of it), so on a RAM-tight host a big
    * shuffle would hit ENOSPC where disk-backed /tmp succeeds. 16 GiB
    * usable is far above anything the bench/verify workloads write.
    *
    * Each JVM writes under `graft_spark_local/<pid>`. A crashed JVM
    * leaks its subdir in RAM until reboot, so every call first removes
    * the subdirs whose pid has no live process — never a live
    * session's, however long it has run.
    */
  def fastLocalDir: String =
    sys.env.getOrElse("SPARK_LOCAL_DIRS", {
      val shm = new File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= MinShmUsableBytes) {
        val root = new File(shm, "graft_spark_local")
        sweepDeadOwners(root)
        val d = new File(root, ProcessHandle.current().pid().toString)
        d.mkdirs()
        d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir", "/tmp")
    })

  private val MinShmUsableBytes = 16L << 30

  /** Deletes the subdirs of `root` named after a pid that has no live
    * process. Entries not named by a pid are left alone.
    */
  private[graft] def sweepDeadOwners(root: File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.toLongOption.exists(pid =>
        !ProcessHandle.of(pid).filter(_.isAlive).isPresent))
      .foreach(deleteRecursively)

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Managed tables (`saveAsTable`) go here for every caller, not into
    * a `spark-warehouse` dir under whatever the working directory is.
    */
  private val WarehouseDir =
    new File(System.getProperty("java.io.tmpdir", "/tmp"), "graft_warehouse").getAbsolutePath

  private def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Build or reuse the session. `master` and `shufflePartitions`
    * default to `$SPARK_GRAFT_CPUS`, else the machine's core count.
    */
  def create(master: String = s"local[$cpus]",
             shufflePartitions: Int = cpus.toInt,
             appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      // the one registration route for sessions the engine builds; it
      // carries over to newSession()
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // 128 distinct keys per task (the Spark default) - pathological for
      // this engine, whose collect_list/collect_set/top-k aggregates
      // routinely see 10^4-10^5 bounded-size groups per task. 2^17
      // entries of bounded per-group state (<= a few hundred bytes each)
      // is tens of MB per task at ANY scale factor or cluster size; the
      // fallback still protects truly unbounded group counts.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // Tiny iterative shuffles write R files PER MAP TASK on the
      // bypass-merge path (default threshold 200 covers every reduce
      // count this engine's fixpoint loops use); jstack sampling showed
      // loop tasks inside BypassMergeSortShuffleWriter stream setup,
      // not compute. Threshold 2 routes them to the serialized
      // (Unsafe) writer: ONE file + index per map task. Shuffles with
      // > 200 reducers (any real-scale exchange) never used bypass, so
      // the setting is inert at cluster scale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.local.dir", fastLocalDir)
      .config("spark.sql.warehouse.dir", WarehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
