package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Per-file lineage entry of a snapshot (path, rows from the parquet
  * footer, bytes).
  */
final case class FileMeta(path: String, rows: Long, bytes: Long)

/** One committed snapshot version of a table: Iceberg-style manifest with
  * per-partition lineage + free-form metrics. Reference analog: groot's
  * snapshot-ID-versioned atomic write groups
  * (`docs/persistent_graph_store.rst:9,310-350`) and vineyard object
  * persistence — re-expressed as versioned Parquet dirs + JSON manifests
  * (no Iceberg jars ship offline; the contract is kept Iceberg-shaped so a
  * real catalog can be substituted).
  */
final case class Manifest(
    table: String,
    version: Int,
    parent: Int, // -1 for first snapshot
    rows: Long,
    schemaDdl: String,
    metrics: Map[String, Double],
    files: List[FileMeta]
)

/** Versioned snapshot layout under `root`:
  * {{{
  * root/<table>/v00001/            parquet data
  * root/<table>/_manifests/v00001.json
  * root/<table>/_latest            ("1")
  * }}}
  * Commits are atomic at the `_latest` pointer: data + manifest are fully
  * written before the pointer moves, and the pointer moves by renaming a
  * fully written temp file over `_latest`, so a crashed writer leaves the
  * previous version readable — this is what "resumable from checkpoint
  * with per-partition lineage + metrics" (north rule) hangs off.
  */
class SnapshotStore(val root: String) {
  implicit private val fmts: Formats = DefaultFormats

  // one Configuration per store: a fresh one re-parses the Hadoop
  // default resources on first use, and every file-system call needs one
  private val conf = new Configuration()
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  private def tableDir(table: String) = new Path(root, table)
  private def versionDir(table: String, v: Int) = new Path(tableDir(table), f"v$v%05d")
  private def manifestPath(table: String, v: Int) =
    new Path(new Path(tableDir(table), "_manifests"), f"v$v%05d.json")
  private def latestPath(table: String) = new Path(tableDir(table), "_latest")

  def latestVersion(table: String): Option[Int] = {
    val p = latestPath(table)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  def readManifest(table: String, v: Int): Manifest = {
    val p = manifestPath(table, v)
    val in = fs(p).open(p)
    try JsonMethods.parse(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      .extract[Manifest]
    finally in.close()
  }

  def read(spark: SparkSession, table: String, version: Int): DataFrame =
    spark.read.parquet(versionDir(table, version).toString)

  def readLatest(spark: SparkSession, table: String): Option[(Int, DataFrame)] =
    latestVersion(table).map(v => (v, read(spark, table, v)))

  /** Write `df` as the next version of `table`. Returns the version id.
    * Per-file row counts come from the parquet footers (no extra Spark
    * job); `metrics` is the caller's iteration state (iteration number,
    * delta, dangling mass, throughput…) enabling exact resume.
    */
  def write(table: String, df: DataFrame, metrics: Map[String, Double]): Int = {
    val parent = latestVersion(table).getOrElse(-1)
    val v = parent + 1
    val dir = versionDir(table, v)
    df.write.mode("overwrite").parquet(dir.toString)
    val f = fs(dir)
    val files = f.listStatus(dir).toList
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val rc = footerRowCount(s.getPath)
        FileMeta(s.getPath.toString, rc, s.getLen)
      }
    val manifest = Manifest(
      table = table, version = v, parent = parent,
      rows = files.map(_.rows).sum,
      schemaDdl = df.schema.toDDL,
      metrics = metrics, files = files)
    val mp = manifestPath(table, v)
    val out = fs(mp).create(mp, true)
    try out.write(Serialization.write(manifest).getBytes("UTF-8"))
    finally out.close()
    val lp = latestPath(table)
    val tmp = new Path(tableDir(table), s"._latest.${java.util.UUID.randomUUID()}.tmp")
    val lout = fs(tmp).create(tmp, false)
    try lout.write(v.toString.getBytes("UTF-8"))
    finally lout.close()
    try movePointer(tmp, lp)
    finally if (fs(tmp).exists(tmp)) fs(tmp).delete(tmp, false)
    v
  }

  /** Atomically replaces `to` with `from` (rename with overwrite). */
  protected def movePointer(from: Path, to: Path): Unit = {
    val f = fs(to)
    val (src, dst) = (f.makeQualified(from), f.makeQualified(to))
    FileContext.getFileContext(dst.toUri, conf).rename(src, dst, Options.Rename.OVERWRITE)
  }

  private def footerRowCount(p: Path): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try reader.getRecordCount
    finally reader.close()
  }
}
