package graft

import org.apache.spark.sql.SparkSession

/** One place for the local SparkSession configuration shared by Bench,
  * Verify, and the test suite. Nothing here is data-dependent: shuffle
  * partitions match local cores (AQE coalesces at cluster scale), ANSI is
  * off (the reference's errors='coerce' semantics), and the legacy
  * nanos-as-long flag is set once so reads of the TIMESTAMP(NANOS) events
  * parquet behave identically everywhere (no per-loader conf mutation). */
object Sessions {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors.toString),
            extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoint I/O on a LOCAL filesystem: the default
      // FileContext-based checkpoint manager routes every rename through
      // Hadoop's AbstractFileSystem.renameInternal, which calls
      // FileUtil.readLink — a fork/exec of `readlink` PER FILE. With 32
      // state partitions each committing a delta per micro-batch (plus
      // offsets/commit WAL and Spark 4.1's per-file checksum companions),
      // that is hundreds of subprocess launches per batch: measured
      // ~460→740 ms of commitTimeMs per partition per batch at sf0.1,
      // i.e. a ~0.9 s floor on EVERY micro-batch regardless of data
      // (thread dumps: tasks RUNNABLE in ProcessImpl.forkAndExec under
      // FileContext.rename). The FileSystem-based manager renames via
      // java.io.File.renameTo (atomic on POSIX) — per-batch floor drops
      // to ~0.25 s, drains s06-s09 get 41-67% faster with IDENTICAL
      // micro-batch counts. Not a local[32] twiddle: the fork cost is
      // per-commit fixed overhead wherever checkpoints live on a local
      // FS; HDFS/object-store deployments override via SPARK_GRAFT_CONF
      // (applied last, below).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
    extra.foreach { case (k, v) => b.config(k, v) }
    // Env-tunable conf passthrough (SPARK_GRAFT_CONF="k=v;k2=v2"): scale
    // runs opt into e.g. the RocksDB state store (disk-backed — the
    // deployment shape once streaming state outgrows the in-memory
    // provider, measured: s05's bucket state OOMs an 8g heap at sf10's
    // 500k-doc corpus on the default HDFSBackedStateStore) without a
    // code edit. Applied last, so it can override the defaults above.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => b.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
