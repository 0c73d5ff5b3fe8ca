package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Using
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Persisted-state table sets, the incremental form of the reference's
  * full-replace load (challenge.py:311-325), kept as a log of file
  * lists. A set at `dir` holds one parquet table per name under
  * `dir/<name>/`; a version of the set is the hidden manifest
  * `dir/_manifest-<k>.json`, which records per table the read schema
  * (Spark's schema JSON), the partition column and the live data files
  * with their sizes. [[commit]] is the one way a set changes and [[read]]
  * opens exactly the files of the newest manifest, with no listing and no
  * footer read. After every completed commit `dir/<name>/` holds exactly
  * the live files, so a plain parquet read of a table dir sees the same
  * rows. Hadoop's rename and delete report failure by RETURNING FALSE
  * (HDFS and S3A do not throw), so state is renamed and deleted only
  * through the checked [[rename]] and [[delete]].
  */
object StateDir {

  /** A table of a version: its read schema as Spark's schema JSON
    * (partition column last), its partition column and its live files
    * (path under the table dir → bytes). */
  final case class Table(schema: String, partitionBy: Option[String], files: Map[String, Long])

  /** One change to one table: `rows`, if any, land as new files, and every
    * live file whose path under the table dir `drop` accepts goes. A
    * replace drops every file, an append none, a touched-cell rewrite the
    * files of those cells. */
  final case class Edit(table: String, rows: Option[DataFrame],
                        drop: String => Boolean, partitionBy: Option[String] = None)

  /** Publish `tables` (name → frame) at `dir`, each replacing its table; a
    * table named in `partitionBy` is written partitioned by that column. */
  def publish(dir: String, tables: Seq[(String, DataFrame)],
              partitionBy: Map[String, String] = Map.empty): Unit =
    commit(dir, tables.map { case (n, df) => Edit(n, Some(df), _ => true, partitionBy.get(n)) })

  /** Apply `edits` (at most one per table) to the set at `dir` as version
    * k+1: (1) each edit's rows are written to `<staging>/<table>`, where
    * `<staging>` is a hidden sibling of `dir` unique to this attempt;
    * (2) the written files move into `dir/<table>/` (Spark's file names
    * carry the job id, so they never clash), or, when `dir` does not
    * exist yet, the staging dir is renamed to `dir` whole; (3) manifest
    * k+1, written in the staging dir, is renamed into `dir`: the commit
    * point; (4) older manifests, the staging dirs and every file of an edited
    * table dir that manifest k+1 does not list (the dropped files and the
    * orphans of a crashed attempt) are deleted. A failure before (3)
    * leaves version k as every reader sees it. */
  def commit(dir: String, edits: Seq[Edit]): Unit = {
    val fs = fsOf(SparkSession.active, new Path(dir))
    val root = fs.makeQualified(new Path(dir))
    val (k, cur) = current(fs, root).getOrElse((-1, Map.empty[String, Table]))
    val staging = stagingOf(root)
    val next = cur ++ edits.map { e =>
      val out = new Path(staging, e.table)
      e.rows.foreach(df => e.partitionBy.fold(df.write)(df.write.partitionBy(_)).parquet(out.toString))
      e.table -> Table(e.rows.fold(cur(e.table).schema)(df => StructType(
          df.schema.filterNot(f => e.partitionBy.contains(f.name)) ++
            e.partitionBy.map(df.schema(_))).json), e.partitionBy,
        cur.get(e.table).fold(Map.empty[String, Long])(_.files.filterNot(f => e.drop(f._1))) ++
          dataFiles(fs, out))
    }
    val manifest = new Path(staging, s"_manifest-${k + 1}.json")
    // The JSON is built by hand: json4s's case-class serializer pays a
    // reflection warm-up of ~0.3 s on the first commit of a JVM.
    Using.resource(fs.create(manifest, false))(_.write(compact(render(JObject(next.toList.map { case (n, t) =>
      n -> (("schema" -> t.schema) ~ ("partitionBy" -> t.partitionBy) ~ ("files" -> t.files)) }))).getBytes(UTF_8)))
    if (!fs.exists(root)) rename(fs, staging, root)
    else {
      for (e <- edits; f <- dataFiles(fs, new Path(staging, e.table)).keys) {
        val to = new Path(root, s"${e.table}/$f")
        fs.mkdirs(to.getParent)
        rename(fs, new Path(staging, s"${e.table}/$f"), to)
      }
      rename(fs, manifest, new Path(root, manifest.getName))
      for (e <- edits; f <- dataFiles(fs, new Path(root, e.table)).keys
           if !next(e.table).files.contains(f))
        delete(fs, new Path(root, s"${e.table}/$f"))
      for (st <- fs.globStatus(new Path(root, "_manifest-*.json"))
           if st.getPath.getName != manifest.getName) delete(fs, st.getPath)
    }
    sweep(fs, root)
  }

  /** The named tables of the newest version at `dir`, in the order asked. */
  def read(s: SparkSession, dir: String, names: String*): Seq[DataFrame] = {
    val m = tables(s, dir)
    names.map(n => Sources.parquetFiles(s, s"$dir/$n",
      DataType.fromJson(m(n).schema).asInstanceOf[StructType], m(n).partitionBy, m(n).files))
  }

  /** Every table of the newest version at `dir`, as its manifest lists it. */
  def tables(s: SparkSession, dir: String): Map[String, Table] = {
    val fs = fsOf(s, new Path(dir))
    current(fs, fs.makeQualified(new Path(dir))).map(_._2).getOrElse(
      throw new java.io.FileNotFoundException(s"no state version at $dir"))
  }

  /** The newest published version k of a version root holding `v<k>`
    * sets (staging and old dirs are dot-names, never matched). */
  def latest(root: String): Int = {
    val p = new Path(root)
    val vs = fsOf(SparkSession.active, p).listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
    require(vs.nonEmpty, s"no published v<k> under $root")
    vs.max
  }

  /** The newest manifest under `root`: (k, tables). */
  private def current(fs: FileSystem, root: Path): Option[(Int, Map[String, Table])] =
    Option(fs.globStatus(new Path(root, "_manifest-*.json"))).toSeq.flatten
      .map(st => st.getPath.getName.stripPrefix("_manifest-").stripSuffix(".json").toInt -> st.getPath)
      .maxByOption(_._1).map { case (k, p) =>
        k -> parse(Using.resource(fs.open(p))(in => new String(in.readAllBytes(), UTF_8))).values
          .asInstanceOf[Map[String, Map[String, Any]]].map { case (n, t) => n -> Table(t("schema").toString,
            t.get("partitionBy").map(_.toString), t("files").asInstanceOf[Map[String, BigInt]].map(f => f._1 -> f._2.toLong)) }
      }

  /** The data files under `dir` (path under `dir` → bytes): what a plain
    * parquet read of `dir` lists. */
  private def dataFiles(fs: FileSystem, dir: Path): Map[String, Long] =
    if (!fs.exists(dir)) Map.empty
    else GraftParquetFooter.leaves(fs, dir)
      .map(st => st.getPath.toString.stripPrefix(s"${fs.makeQualified(dir)}/") -> st.getLen).toMap

  /** A fresh hidden staging sibling of `target`, unique to this attempt. */
  private[sources] def stagingOf(target: Path): Path =
    new Path(target.getParent, s".${target.getName}.staging-${System.nanoTime()}")

  /** Best-effort removal of the staging siblings of `target` (this
    * attempt's and those earlier attempts left): readers never see them,
    * so a delete that fails (a killed attempt's task still writing) is
    * logged and left for the next commit. */
  private[sources] def sweep(fs: FileSystem, target: Path): Unit = {
    val prefix = s".${target.getName}.staging"
    for (st <- fs.listStatus(target.getParent)
         if st.getPath.getName.startsWith(prefix)) {
      try delete(fs, st.getPath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[state] left stale ${st.getPath}: ${e.getMessage}")
      }
    }
  }

  private[sources] def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `fs.rename` that throws when the rename does not happen. */
  private[graft] def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** Recursive `fs.delete` of `p` if present, throwing when it fails. */
  private[graft] def delete(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete $p failed")
}
