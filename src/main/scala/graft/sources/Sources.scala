package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.apache.spark.sql.types.StructType

/** Readers (SURVEY §2.G) — the reference's extract step reads ragged-key
  * JSON and mixed-type CSV (challenge.py:24-27). Schemas are always
  * explicit: schema inference is a full extra pass over the data at
  * scale, and silently drifts when a batch happens to miss a field.
  */
object Sources {

  /** CSV with an explicit schema. Malformed rows null out (PERMISSIVE),
    * mirroring the reference's errors='coerce' posture. */
  def csv(s: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    s.read.schema(schema).option("header", header.toString)
      .option("mode", "PERMISSIVE").csv(path)

  /** JSON-lines with an explicit schema: ragged keys resolve to null
    * columns instead of schema drift (the reference's alt-title mess). */
  def json(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** Parquet, the one way a table is opened: the schema comes from one
    * data file's footer, read on the driver (no Spark job; partition
    * columns still come from Spark's partition discovery), and is handed
    * to the reader, so the frame is exactly what inference would give.
    * Whatever that read does not cover (no data files, summary files,
    * schema merging on) takes Spark's own inference, job and errors. */
  def parquet(s: SparkSession, path: String): DataFrame =
    GraftParquetFooter.dataSchema(s, path)
      .fold(s.read.parquet(path))(s.read.schema(_).parquet(path))

  /** Parquet over exactly `files` (path under `base` → bytes) with a
    * known read `schema` (partition column last): no listing, no footer,
    * no job; the persisted-state read ([[StateDir.read]]). */
  def parquetFiles(s: SparkSession, base: String, schema: StructType,
                   partitionBy: Option[String], files: Map[String, Long]): DataFrame =
    GraftParquetFooter.listed(s, base, schema, partitionBy, files)

  /** ORC (columnar like parquet: self-describing schema, predicate
    * pushdown and column pruning at the stripe level). */
  def orc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Name of the audit column carrying the raw text of rows that failed
    * to parse. */
  val CorruptCol = "_corrupt_record"

  /** CSV/JSON read with corrupt-record CAPTURE — the audit half of the
    * PERMISSIVE posture: parse failures still null out instead of
    * killing the job, but the offending raw line is RETAINED in
    * [[CorruptCol]] so a pipeline can quarantine and inspect it (the
    * reference's try/except-log posture, challenge.py:129-227, made
    * queryable). Use [[splitCorrupt]] to fork the audit stream. */
  def csvCaptureCorrupt(s: SparkSession, path: String, schema: StructType,
                        header: Boolean = true): DataFrame =
    s.read.schema(schema.add(CorruptCol, "string"))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  def jsonCaptureCorrupt(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** (good rows without the audit column, bad rows as (raw line)).
    * The input is cached first: Spark (correctly) refuses queries that
    * filter ONLY on the internal corrupt-record column of a raw
    * file scan (SPARK-21610 — the pushed-down filter would change which
    * rows parse), and a cache materializes the parse once for both
    * forks anyway. Caller unpersists when done. */
  def splitCorrupt(df: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val cached = df.cache()
    val good = cached.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = cached.filter(col(CorruptCol).isNotNull).select(col(CorruptCol))
    (good, bad)
  }

  /** JDBC read-back (validation / small-dim ingestion; for big tables
    * supply partitioning predicates upstream via spark.read.jdbc). */
  def readJdbc(s: SparkSession, url: String, table: String,
               driver: Option[String] = None): DataFrame = {
    val r = s.read
    driver.fold(r)(d => r.option("driver", d)).jdbc(url, table, new java.util.Properties())
  }
}

/** Writers (SURVEY §2.G) — full-replace and chunked loads
  * (challenge.py:293-308), Spark-shaped. */
object Sinks {

  /** Partitioned parquet write — the lake analog of a partitioned table
    * load; partition columns become directory keys for pruning. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.partitionBy(partitionCols: _*).mode(mode).parquet(path)

  /** Chunked write: bounds rows per output file — the analog of the
    * reference's 1M-row chunked DB load (challenge.py:302-308). File
    * count scales with data, no single-writer bottleneck. */
  def writeChunked(df: DataFrame, path: String, maxRecordsPerFile: Long,
                   mode: String = "overwrite"): Unit =
    df.write.option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .mode(mode).parquet(path)

  /** Append rows to an existing dataset (incremental load). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** JDBC sink — the direct analog of the reference's RDBMS load step
    * (challenge.py:291-308: `to_sql(..., if_exists='replace'/'append',
    * chunksize=1000000)`). `mode` "overwrite" = replace (drop and
    * recreate the table), "append" = incremental load; `batchSize` is
    * the chunked-load contract — rows per INSERT round-trip, so one bad
    * batch bounds the retry unit and the DB never sees an unbounded
    * statement. Each Spark partition opens one connection and writes its
    * rows in `batchSize` chunks; coalesce upstream to cap concurrent
    * connections for small target DBs. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite", batchSize: Int = 100000,
                driver: Option[String] = None): Unit = {
    val w = df.write.mode(mode).option("batchsize", batchSize.toString)
    driver.fold(w)(d => w.option("driver", d)).jdbc(url, table, new java.util.Properties())
  }

  /** Key-based upsert (MERGE) into a parquet dataset: rows of `df`
    * replace existing rows with matching `keys`; unmatched rows append.
    * Parquet has no native MERGE, so this is read → anti-join → union →
    * rewrite, STAGED in a hidden sibling directory (Spark cannot
    * overwrite a path it is reading) and swapped in by [[swap]].
    *
    * With `partitionCol` set, only the partitions `df` actually touches
    * are read (partition-pruned scan), rewritten, and swapped — the
    * 100 TB shape: cost scales with the delta's partitions, not the
    * table. Unpartitioned upsert rewrites the whole dataset and is for
    * small dims only. Table formats with a real transactional MERGE
    * (Delta/Iceberg) replace this wholesale; the operator carries the
    * same contract.
    */
  def upsert(df: DataFrame, path: String, keys: Seq[String],
             partitionCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val s = df.sparkSession
    val fs = StateDir.fsOf(s, new Path(path))
    val target = fs.makeQualified(new Path(path))
    val staging = StateDir.stagingOf(target)
    def write(d: DataFrame): Unit =
      partitionCol.fold(d.write)(d.write.partitionBy(_)).mode("overwrite").parquet(staging.toString)
    if (!fs.exists(target)) write(df)
    else {
      // The delta feeds the touched-partition collect, the anti-join, and
      // the union — persist so an expensive upstream runs once, not thrice.
      val delta = df.persist()
      try {
        val existing = partitionCol match {
          case Some(pc) =>
            // Prune the scan to the partitions the delta touches. CONTRACT:
            // a key's partition value must be stable across upserts (as in
            // Hive dynamic-partition overwrite) — a key that MOVES partition
            // would leave its old row in an untouched partition. Moving keys
            // requires the unpartitioned (full-table) form.
            val touched = delta.select(pc).distinct().collect().map(_.get(0))
            val nonNull = touched.filter(_ != null)
            val cond = if (nonNull.length == touched.length)
              col(pc).isin(nonNull.toIndexedSeq: _*)
            else col(pc).isin(nonNull.toIndexedSeq: _*) || col(pc).isNull
            Sources.parquet(s, path).filter(cond)
          case None => Sources.parquet(s, path)
        }
        write(existing.join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(delta))
      } finally delta.unpersist()
    }
    partitionCol match {
      // swap only the rewritten partition directories
      case Some(pc) if fs.exists(target) =>
        for (st <- fs.listStatus(staging) if st.isDirectory &&
            st.getPath.getName.startsWith(s"$pc="))
          swap(fs, st.getPath, new Path(target, st.getPath.getName))
      case _ => swap(fs, staging, target)
    }
    StateDir.sweep(fs, target)
  }

  /** Make `from` the dir `to`: an existing `to` is first moved aside to a
    * hidden `.<name>.old-<stamp>` sibling and deleted once `from` is in;
    * if the rename in fails, the old dir is moved back. */
  private def swap(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.exists(to)) StateDir.rename(fs, from, to)
    else {
      val old = new Path(to.getParent, s".${to.getName}.old-${System.nanoTime()}")
      StateDir.rename(fs, to, old)
      try StateDir.rename(fs, from, to)
      catch { case e: Throwable => StateDir.rename(fs, old, to); throw e }
      StateDir.delete(fs, old)
    }

  /** Bucketed managed table: co-locates rows by join key at write time so
    * later joins between tables bucketed on the same key run with NO
    * shuffle exchange (spec-asserted). The lake-side analog of
    * pre-partitioned warehouse loads; `sortBy` makes the join a zip of
    * sorted buckets. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)
}
