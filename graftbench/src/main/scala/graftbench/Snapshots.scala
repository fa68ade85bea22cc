package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.ingest.SnapshotStore

/** What a [[SnapshotStore]] shows from outside: when each version was
  * committed and how large it is.
  */
object Snapshots {

  /** Per table, the commit time (ms) of each version in version order:
    * the modification time of the version's manifest, which the store
    * writes after the data and before it moves the `_latest` pointer.
    */
  def commitTimesMs(root: Path): Map[String, Seq[Double]] =
    Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).map { t =>
      val ms = Files.list(t.resolve("_manifests")).iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.matches("v\\d+\\.json")) // not the checksum files
        .sortBy(_.getFileName.toString)
        .map(f => Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS) / 1e3)
      t.getFileName.toString -> ms
    }.toMap

  /** Round wall times (ms): the gaps between consecutive commits of one
    * call. `perCall` gives how many versions each call committed, in
    * order; a call's first commit also carries its set-up, so it starts
    * no gap.
    */
  def rounds(commits: Seq[Double], perCall: Seq[Int]): Seq[Double] = {
    require(commits.size == perCall.sum, s"${commits.size} commits for calls of $perCall rounds")
    val starts = perCall.scanLeft(0)(_ + _)
    perCall.indices.flatMap { c =>
      val xs = commits.slice(starts(c), starts(c + 1))
      xs.zip(xs.drop(1)).map { case (a, b) => b - a }
    }
  }

  /** Bytes of every committed version of a table, from its manifests. */
  def sizes(store: SnapshotStore, table: String): Seq[Long] =
    store.latestVersion(table).toSeq.flatMap(v => (0 to v).map(store.readManifest(table, _).files.map(_.bytes).sum))

  def delete(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
}
