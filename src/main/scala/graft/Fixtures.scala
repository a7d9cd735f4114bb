package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of memoized on-disk artifacts: the persisted indexes,
  * models and file fixtures driver queries SERVE from. Production builds
  * such an artifact once at ingest and serves it from many queries, so a
  * query must time the serve, never the build: each artifact is built
  * once per (name, data dir) anywhere and found on disk afterwards,
  * including by later JVMs.
  *
  * This object alone decides, for every artifact:
  *  - where it lives: `<root>/idx/<FixtureVer>_<name>_<data-dir key>`,
  *    with `root` the checkout's `target/fixtures`, found from where this
  *    class was loaded (never the cwd, never a literal path);
  *  - how it is built: into a per-JVM staging dir (`.tmp-<runTag>`), so
  *    two concurrent builders (tests and Verify in separate JVMs) never
  *    share a staging path, then published by one atomic rename;
  *  - that builds in one JVM never overlap (this object's lock).
  *
  * The name carries any per-builder version token (`ivfpqr2`, `kn5v2`):
  * bump that token when one builder's output changes, and `FixtureVer`
  * when every artifact must rebuild. Otherwise a stale artifact keeps
  * serving across sessions. Deleting `root` forces every rebuild. */
object Fixtures {

  private val FixtureVer = "f3" // f3: substring index gained the
                                // postings/ + freq/ + hot/ subdir layout

  /** `<checkout>/target/fixtures`, two levels above this class's code
    * location (`target/scala-2.13/classes`), so a copy of the checkout
    * writes its own fixtures whatever the cwd. */
  lazy val root: Path =
    Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParent.getParent.resolve("fixtures")

  /** Bucket count of every persisted bucketed index. */
  private val Buckets = 8

  /** Per-JVM unique suffix for staging dirs and scratch tables/paths:
    * concurrent JVMs over the same data dir must not share a catalog
    * table name or a write path. */
  lazy val runTag: String =
    java.lang.Long.toHexString(
      java.util.UUID.randomUUID().getMostSignificantBits & 0xffffffffL)

  /** The data dir as a name fragment. Every artifact name carries it,
    * which is how a cleanup finds what one data dir left behind. */
  def dirKey(dataDir: String): String = dataDir.replaceAll("[^A-Za-z0-9]", "_")

  private def artifact(name: String, dataDir: String): Path =
    root.resolve("idx").resolve(s"${FixtureVer}_${name}_${dirKey(dataDir)}")

  /** Directory artifact: runs `build` on a staging path that does not
    * exist yet (the body creates it, e.g. through a Spark write) the
    * first time anywhere, publishes it, and returns the artifact dir. A
    * body that throws publishes nothing; the next call rebuilds. */
  def dir(name: String, dataDir: String)(build: String => Unit): String =
    synchronized {
      val dst = artifact(name, dataDir)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        val tmp = Paths.get(s"$dst.tmp-$runTag")
        FileUtils.deleteQuietly(tmp.toFile)
        try build(tmp.toString)
        catch { case e: Throwable => FileUtils.deleteQuietly(tmp.toFile); throw e }
        publish(tmp, dst)
      }
      dst.toString
    }

  /** [[dir]] for artifacts written as plain files (WARC shards, a
    * workbook): the staging dir exists when `write` runs, and the result
    * is `inside` resolved against the artifact dir, a file name or a
    * glob such as `*.warc.gz` that readers take as is. */
  def files(name: String, dataDir: String, inside: String)(
      write: String => Unit): String =
    dir(name, dataDir) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      write(tmp)
    } + "/" + inside

  /** Bucketed index: a [[dir]] artifact whose `build(table, path)` writes
    * a table bucketed on `key` into [[Buckets]] buckets at the staging
    * path (via [[graft.sources.ParquetIO.writeBucketed]], or an index
    * saver built on it at its default bucket count); the staging table
    * is dropped afterwards (external: the files stay). The artifact's
    * `sub` dir is then registered as the external bucketed table
    * `fix_<artifact>`, only when the session's catalog lacks it: catalog
    * entries are per-JVM, the on-disk layout is not. Returns (artifact
    * dir, table name). */
  def bucketed(s: SparkSession, name: String, dataDir: String, key: String,
      sub: String = "")(
      build: (String, String) => Unit): (String, String) =
    synchronized {
      val tbl = "fix_" + artifact(name, dataDir).getFileName
      val path = dir(name, dataDir) { tmp =>
        val tmpTbl = s"${tbl}_tmp_$runTag"
        try build(tmpTbl, tmp) finally s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      }
      if (!s.catalog.tableExists(tbl))
        graft.sources.ParquetIO.registerBucketed(s, tbl,
          if (sub.isEmpty) path else s"$path/$sub", key, Buckets)
      (path, tbl)
    }

  /** [[bucketed]] for an index that is one frame, written bucketed and
    * sorted on `key`. Returns the table name. */
  def index(s: SparkSession, name: String, dataDir: String, key: String)(
      frame: => DataFrame): String =
    bucketed(s, name, dataDir, key) { (t, p) =>
      graft.sources.ParquetIO.writeBucketed(frame, t, p, key, Buckets)
    }._2

  /** Atomic publish: rename the fully-written staging dir into place. A
    * lost race (a concurrent winner already published) discards the
    * loser's complete copy benignly; any OTHER rename failure
    * (crash-truncated staging, permissions, cross-device move) fails
    * loudly here — swallowed, it resurfaces as an unrelated
    * path-not-found on the first read with no hint of the real cause. */
  private[graft] def publish(tmp: Path, dst: Path): Unit =
    if (!tmp.toFile.renameTo(dst.toFile)) {
      FileUtils.deleteQuietly(tmp.toFile)
      if (!Files.exists(dst))
        throw new IllegalStateException(
          s"fixture publish failed: rename $tmp -> $dst failed and no " +
            "concurrent winner produced the artifact (disk full? perms?)")
    }
}
