package graft

/** The one local SparkSession factory ([[session]]) every main and the
  * test suites run on, and the I/O and codegen-cache tuning it applies.
  *
  * Shuffle block files are the measured bottleneck of the small-shuffle
  * queries on this host (guide §2.1: "Local disk bandwidth for shuffle
  * files can be the tighter limit"): a thread dump of a 32-core q_hits
  * run showed all 32 executor threads RUNNABLE inside
  * DiskBlockManager.createTempShuffleBlock → UnixFileSystem file-attribute
  * syscalls — the bypass-merge shuffle writer creates numPartitions temp
  * files per map task (32×32 = 1024 creates per tiny shuffle) and the
  * sandbox root is journaled ext4 on virtio, so file metadata ops dominate
  * the stage. Pointing spark.local.dir at a RAM-backed tmpfs removes the
  * metadata wall: measured on the graph/LM families, process-CPU fell
  * 30-50% and walls 15-35% (OPTIMIZATION_r17.md). The production analogue
  * is the standard one — provision fast local NVMe (or a RAM disk sized to
  * shuffle working set) for spark.local.dir; the setting is data-size
  * independent and the shuffle volumes at any scale factor here are MBs
  * against a 128 GiB tmpfs.
  *
  * Resolution order (operator-overridable, never mandatory):
  *   1. SPARK_LOCAL_DIRS env — Spark's own override wins untouched (we
  *      set nothing; Spark reads it directly).
  *   2. SPARK_GRAFT_LOCAL_DIR env — explicit per-run override.
  *   3. /dev/shm/graft-spark-local when /dev/shm is writable.
  *   4. Spark default (java.io.tmpdir) otherwise.
  */
object SessionTuning {
  /** The spark.local.dir value to configure, if any. */
  private def fastLocalDir: Option[String] =
    if (sys.env.contains("SPARK_LOCAL_DIRS")) None
    else sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        val d = new java.io.File(shm, "graft-spark-local")
        d.mkdirs()
        if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
      } else None
    }

  /** Apply the local-dir tuning to a session builder. Logs the resolved
    * dir so a tmpfs-full failure (ENOSPC where disk would have spilled)
    * is attributable — SPARK_GRAFT_LOCAL_DIR / SPARK_LOCAL_DIRS are the
    * escape hatches for spill-heavy runs (e.g. ScaleCheck at large
    * factors). */
  private def apply(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    fastLocalDir match {
      case Some(d) =>
        System.err.println(s"[graft] spark.local.dir -> $d " +
          "(override: SPARK_GRAFT_LOCAL_DIR or SPARK_LOCAL_DIRS)")
        b.config("spark.local.dir", d)
      case None => b
    }

  /** The local session: `local[cpus]`, shuffle partitions = cpus, UTC,
    * UI off, the fast local dir, graft's codegen cache size
    * ([[GraftExtensions.codegenCache]], the pair the extension also
    * defaults; Spark reads it once per JVM, at the first codegen, so it
    * holds when this is the JVM's first session) and log level ERROR for
    * Spark, INFO for graft's own loggers (`graft.*`): Spark's chatter
    * stays off while graft's decision lines and warnings (clusterPairs'
    * path line, its non-convergence warning) still print. */
  def session(cpus: String): org.apache.spark.sql.SparkSession = {
    val (cacheKey, cacheSize) = GraftExtensions.codegenCache
    val s = apply(org.apache.spark.sql.SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(cacheKey, cacheSize)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft", org.apache.logging.log4j.Level.INFO)
    s
  }
}
