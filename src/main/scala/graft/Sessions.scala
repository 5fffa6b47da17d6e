package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults: AQE on
  * (runtime re-plan + skew-join splitting), shuffle partitions sized to
  * cores (not the 200 default), UTC session time zone for oracle parity.
  *
  * `file:` is rebound to [[graft.lake.NioLocalFileSystem]] for
  * `FileSystem` and to [[graft.lake.NioLocalFs]] for `FileContext` (which
  * Spark's streaming checkpoint logs write through). Spark ships no
  * libhadoop, and without it Hadoop's local file systems fork one process
  * per `chmod` (every file, `.crc` and directory they create), per `ls -ld`
  * (every listed or stat'ed entry whose permission is read) and per
  * `readlink` (every `FileContext` rename): about 7 forks per written data
  * file, ~390 for a copy-on-write epoch that rewrites 54 bucket files, and
  * ~25 per streaming trigger for the offset, commit and source logs. The
  * rebound classes do the same calls in-process through `java.nio`.
  */
object Sessions {
  /** The `file:` bindings every engine session carries (see above). */
  private[graft] val LocalFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.lake.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.lake.NioLocalFs].getName)

  /** @param tmpfsShuffle opt-in: put shuffle/spill files on /dev/shm when
    *                     one exists AND has headroom. The LIBRARY default
    *                     is plain disk — tmpfs is RAM-backed (typically
    *                     capped at 50% of RAM), so a job that spills
    *                     precisely because memory is tight could hit
    *                     ENOSPC or drive the host to OOM where disk would
    *                     have completed. The BENCH opts in (measured: the
    *                     8-core merge epoch dropped 10.4 s → 6.3 s once
    *                     shuffle files stopped hitting the VM's virtio
    *                     disk — a fixed-bandwidth serializer that capped
    *                     N→4N scaling; the real-cluster analogue is
    *                     executors shuffling to local NVMe).
    *                     SPARK_GRAFT_LOCAL_DIR explicitly overrides both.
    */
  def local(cores: Int, shufflePartitions: Int = -1, appName: String = "graft",
      tmpfsShuffle: Boolean = false): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    val shm = new java.io.File("/dev/shm")
    // Headroom gate: only use tmpfs with ≥ 8 GiB usable — a bench-scale
    // shuffle is ≤ low GBs; anything tighter and ENOSPC beats the speedup.
    val shmOk = shm.isDirectory && shm.getUsableSpace > 8L * (1L << 30)
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(if (tmpfsShuffle && shmOk) Some("/dev/shm/graft-spark-local")
              else None)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config(LocalFs)
      // Survive multi-minute hypervisor pauses on the shared sandbox host
      // (a 260 s whole-JVM freeze was observed); without this the local
      // executor gets heartbeat-evicted and the session is dead.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
    localDir.foreach(d => b.config("spark.local.dir", d))
    val session = b.getOrCreate()
    // getOrCreate returns an existing default session WITHOUT binding it
    // to this thread's active-session slot. Any plan node constructed on
    // this thread outside Spark's internal withActive wrappers (AQE
    // re-planning is the observed case) then captures a null session and
    // NPEs later in metrics/resetMetrics. Bind explicitly: a session
    // factory should leave the calling thread usable.
    SparkSession.setActiveSession(session)
    session
  }
}
