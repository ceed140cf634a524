package graft.ops

import scala.util.control.NonFatal

/** The one lifecycle for write-once persisted artifacts — IVF centroid
  * tables, trained IVF, PQ, SQ8 codes, BPE merges, the lexical index, the
  * bigram LM, curation stages, the grounding collection and the scaled
  * bench copy — plus the sealed version/segment dirs of the streaming
  * sinks. Every artifact gets the same guarantees:
  *
  *  1. CONTENT fingerprinting. Source-derived artifact directories are
  *     named by [[sourceName]]: the sf dir plus a fingerprint of the
  *     source dataset, making them write-once — new data maps to a new
  *     name, and a rebuild never deletes a directory a concurrent reader
  *     is serving from (stale-fingerprint dirs become inert garbage, not
  *     hazards). For a Spark-written dataset the path is a DIRECTORY —
  *     `File.length()` is the inode size and mtime granularity is coarse,
  *     so a regenerated corpus could silently alias a stale index. The
  *     fingerprint therefore hashes the sorted list of data-file
  *     (relative-name, size, mtime) tuples inside the dataset
  *     (hidden/metadata files excluded), recursively; a plain file hashes
  *     its own (size, mtime).
  *
  *  2. COMMIT MARKER. A directory counts only once it carries [[Marker]],
  *     written after the whole build returns, so an interrupted writer's
  *     leftovers are rebuilt, never trusted. [[ensure]] builds into a
  *     unique `<name>.tmp.<uuid>` sibling, deleted again if the build
  *     throws; per-table Spark `_SUCCESS` files cover one table only and
  *     are not the commit signal for multi-table artifacts.
  *
  *  3. SERIALIZED install. The recheck-committed → delete-leftovers →
  *     ATOMIC_MOVE sequence runs under a JVM-global monitor (threads in one
  *     JVM — the racing-builder specs' shape) PLUS an OS file lock on
  *     `<base>/.install.lock` (builders in separate JVMs sharing a target
  *     dir, e.g. verify racing bench). The marker is re-checked inside the
  *     lock, so exactly one complete artifact is ever installed, a racing
  *     loser's tmp is dropped, and a committed directory is never deleted.
  *
  *  4. ORACLE INPUTS. Artifacts the DuckDB oracle replays from are
  *     [[record]]ed under a name at query time: their paths embed content
  *     fingerprints only known once the artifact exists, and Verify runs
  *     every query before dumping oracle_sql.json.
  */
object ArtifactStore {

  /** Commit marker of every artifact and sealed streaming dir. */
  val Marker = "_GRAFT_OK"

  private val root = new java.io.File("target")

  /** 8-hex-char content fingerprint of a dataset path (file or Spark
    * dataset directory), salted with builder parameters so differently
    * configured artifacts never alias. */
  def fingerprint(path: java.io.File, salt: String): String = {
    def entries(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .sortBy(_.getName)
          .flatMap(c => entries(c, s"$rel/${c.getName}"))
      else Seq(s"$rel:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((entries(path, "") :+ salt).mkString("|").getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
  }

  /** `sf<sanitized sf dir>_<fingerprint>` for an artifact derived from
    * `$sf/<table>.parquet`. The "sf" prefix keeps the name from starting
    * with "_": Spark's path filter treats _-prefixed names as hidden
    * metadata and logs "All paths were ignored" on every read of such a
    * root. */
  def sourceName(sf: String, table: String, salt: String): String =
    "sf" + sf.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      fingerprint(new java.io.File(s"$sf/$table.parquet"), salt)

  def isSealed(dir: java.io.File): Boolean = new java.io.File(dir, Marker).exists()

  /** Mark a completely written `dir` as committed. */
  def seal(dir: java.io.File): Unit = {
    dir.mkdirs()
    new java.io.File(dir, Marker).createNewFile(): Unit
  }

  /** Sealed `<prefix><batch id>` dirs under `base`, in NUMERIC batch order
    * (lexicographic 'v100000' < 'v99999' would fold a long-running stream
    * into a stale snapshot). */
  def sealedDirs(base: String, prefix: String): Seq[String] = {
    def id(f: java.io.File) = f.getName.stripPrefix(prefix)
    Option(new java.io.File(base).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && id(f).nonEmpty &&
        id(f).forall(_.isDigit) && isSealed(f))
      .sortBy(id(_).toLong)
      .map(_.toString)
  }

  /** Build-if-absent: the committed `target/<kind>/<name>` dir, running
    * `build` on a fresh tmp dir and installing it first when absent. */
  def ensure(kind: String, name: String)(build: java.io.File => Unit): String = {
    val base = new java.io.File(root, kind)
    val dir = new java.io.File(base, name)
    if (!isSealed(dir)) {
      val tmp = new java.io.File(base, s"$name.tmp.${java.util.UUID.randomUUID}")
      try {
        build(tmp)
        seal(tmp)
        install(base, dir, tmp)
      } catch { case NonFatal(e) =>
        VectorOps.deleteRecursively(tmp)
        throw e
      }
      // never hand out a directory that is not committed
      if (!isSealed(dir)) sys.error(s"$kind artifact at $dir could not be installed")
    }
    dir.toString
  }

  /** Install the sealed `tmp` as `dir`, unless a racing builder already
    * committed `dir` — then `tmp` is dropped. */
  private def install(base: java.io.File, dir: java.io.File,
      tmp: java.io.File): Unit = this.synchronized {
    val lockFile = new java.io.File(base, ".install.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        if (isSealed(dir)) VectorOps.deleteRecursively(tmp)
        else {
          VectorOps.deleteRecursively(dir) // uncommitted leftovers only
          java.nio.file.Files.move(tmp.toPath, dir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      } finally lock.release()
    } finally ch.close()
  }

  private val oracleInputs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Record artifact `dir` as the oracle input `name` (absolute path, for
    * the replayed oracles in `SparkEntry.specs`); returns `dir`. */
  def record(name: String, dir: String): String = {
    oracleInputs.put(name, new java.io.File(dir).getAbsolutePath)
    dir
  }

  /** The artifact most recently recorded as `name` in this JVM. */
  def recorded(name: String): Option[String] = Option(oracleInputs.get(name))
}
