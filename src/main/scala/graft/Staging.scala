package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Content-keyed staging of derived mirrors under fixed stage dirs.
  *
  * Some queries read a mirror derived from a source table: a CSV or JSON
  * copy, a nested or partitioned layout, a precomputed column family, or
  * the N-file copy [[Tables]] loads a single-row-group table from. The
  * stage dir is fixed because the DuckDB oracle is a static SQL string that
  * must read the same files. [[stage]] is the only way a mirror is written.
  */
object Staging {

  /** Marker written last into a finished target; a target without it is a
    * crashed partial stage.
    */
  private val Done = "_GRAFT_DONE"

  /** Digest this JVM last staged per stage dir, for [[stagedRoot]]. */
  private val stagedDigests = new ConcurrentHashMap[String, String]()

  /** One JVM monitor per stage dir (see [[stage]]). */
  private val locks = new ConcurrentHashMap[String, Object]()

  /** Staging reads its sources and writes its stages on the local disk. */
  private lazy val localFs = FileSystem.getLocal(new Configuration())

  /** Stage the mirror of `source` for source dir `dir` and return its root.
    *
    * The stage key is `dir|tag|fingerprint(source)`, where `tag` names the
    * mirror's layout version and what else it depends on (build constants,
    * [[Tables.scanTag]]), and the fingerprint is [[Tables.fingerprint]] of
    * the source path. A regenerated source therefore gets a new key; a
    * path-only key would let both engines read the same stale mirror, which
    * the oracle hash cannot catch because they agree.
    *
    * Each key stages once into the immutable `<stageDir>/by/<digest>/`,
    * which `write` receives as its argument, and is trusted only once
    * `_GRAFT_DONE` exists in it. A `write` that throws deletes its target
    * before the exception propagates, and every target under `by/` without
    * the marker (left by a crashed run, of this key or another) is deleted
    * under the locks below, where no writer can be running. So a partial
    * target is never read and does not outlive the next stage of its dir.
    * `<stageDir>/current` is then atomically re-linked to the target. A
    * target is never rewritten, so stages of different source dirs or
    * contents coexist, and a reader keeps reading the root it was returned
    * while another key is staged.
    *
    * The check-and-write runs under a JVM monitor per stage dir and an OS
    * file lock on `<stageDir>/.lock`. The file lock serializes separate JVMs
    * (say a bench and a verify run) on the same stage dir; the monitor
    * serializes threads of this JVM, since `FileChannel.lock` throws on a
    * lock the same JVM already holds. Nested stages of different dirs are
    * allowed.
    *
    * @return `<stageDir>/by/<digest>`, the root the caller reads.
    */
  def stage(stageDir: String, dir: String, tag: String, source: String)
           (write: String => Unit): String = {
    val key = s"$dir|$tag|${fingerprint(source)}"
    val d = digest(key)
    val root = s"$stageDir/by/$d"
    locks.computeIfAbsent(stageDir, _ => new Object).synchronized {
      Files.createDirectories(Paths.get(stageDir))
      val ch = FileChannel.open(Paths.get(stageDir, ".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          val target = Paths.get(root)
          val done = target.resolve(Done)
          val by = target.getParent
          if (Files.isDirectory(by)) {
            val targets = Files.list(by)
            try targets.filter(t => !Files.exists(t.resolve(Done))).forEach(t => deleteTree(t))
            finally targets.close()
          }
          if (!Files.exists(done)) {
            Files.createDirectories(target)
            try write(root)
            catch { case e: Throwable => deleteTree(target); throw e }
            Files.writeString(done, key)
          }
          val current = Paths.get(stageDir, "current")
          val link = current.getParent.relativize(target)
          if (!(Files.isSymbolicLink(current) && Files.readSymbolicLink(current) == link)) {
            val tmp = Paths.get(stageDir, s".current_tmp_${java.util.UUID.randomUUID()}")
            Files.createSymbolicLink(tmp, link)
            Files.move(tmp, current, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE)
          }
          stagedDigests.put(stageDir, d)
        } finally lock.release()
      } finally ch.close()
    }
    root
  }

  /** The root this JVM last staged under `stageDir`, else its `current`
    * link. Only the oracle SQL and specs read it: a query reads the root
    * [[stage]] returned, which another thread staging the same dir for a
    * different source cannot swap. Verify dumps the oracle SQL after the
    * queries ran, so it names the digest the Spark side read.
    */
  def stagedRoot(stageDir: String): String =
    Option(stagedDigests.get(stageDir))
      .map(d => s"$stageDir/by/$d").getOrElse(s"$stageDir/current")

  /** 12 hex chars (48 bits) of the key's MD5: the `by/<digest>` name. */
  private[graft] def digest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** [[Tables.fingerprint]] of a local source path. */
  private[graft] def fingerprint(path: String): String =
    Tables.fingerprint(localFs, new Path(path))

  /** Deletes `p` and everything under it, if it exists. */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
