package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** The one owner of scratch directories: every temp dir a query, fixture
  * or streaming runner needs comes from here, and nothing else creates,
  * rotates or deletes one. Keys are `"<name>|<sf dir or source dir>"`;
  * the part before the first `|` names the directory.
  *
  *  - [[once]] builds a directory once per (JVM, key). Persisted indexes,
  *    sidecars and staged stream inputs live for the JVM so repeated
  *    runs (bench min-of-2, verify after bench) reuse them and the build
  *    stays out of the timed query body — the amortization contract of
  *    an index: batches probe it, they never rebuild it.
  *  - [[fresh]] hands out a new directory per call and deletes the
  *    previous one under the same key at that NEXT call, never earlier:
  *    the DataFrame a query returns reads its directory lazily.
  *  - [[delete]] is the one recursive delete.
  *  - A shutdown hook on the JVM-wide [[Scratch]] object deletes every
  *    directory it ever handed out, including each key's last `fresh`
  *    dir, so no caller lists anything and no scratch dir outlives its
  *    JVM.
  *
  * An instance owns only the dirs it handed out; each spec suite has
  * its own, swept when the suite ends. */
class Scratch {
  private final class Slot { var dir: String = _ }
  private val built = new ConcurrentHashMap[String, Slot]()
  private val rotated = new ConcurrentHashMap[String, String]()
  private val handedOut = ConcurrentHashMap.newKeySet[String]()

  private def create(key: String): String = {
    val name = "graft_" + key.takeWhile(_ != '|').replaceAll("[^A-Za-z0-9_]", "_")
    val dir = Files.createTempDirectory(name).toString
    handedOut.add(dir)
    dir
  }

  /** The directory for `key`, made and filled by `build` on the first
    * call in this JVM. `build` runs under a per-key lock, never inside
    * the shared map's update, so a build may run Spark jobs and take
    * other keys' directories. A build that throws leaves no directory
    * behind, and the next call builds again. */
  def once(key: String)(build: String => Unit): String = {
    val slot = built.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (slot.dir == null) {
        val dir = create(key)
        try build(dir) catch { case t: Throwable => delete(dir); throw t }
        slot.dir = dir
      }
      slot.dir
    }
  }

  /** A new empty directory named after `name`, kept until [[sweep]]. */
  def dir(name: String): String = create(name)

  /** A new empty directory for `key`; the one the previous call for
    * `key` returned is deleted now. */
  def fresh(key: String): String = {
    val dir = create(key)
    Option(rotated.put(key, dir)).foreach(delete)
    dir
  }

  /** Recursively deletes `dir` if it exists. */
  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally all.close()
    }
    handedOut.remove(dir)
  }

  /** Writes `df` as ONE parquet file `<name>.parquet` in `dirPath` with
    * an explicit modification time — file-source streaming orders its
    * micro-batches by mtime, so staged arrival order is controlled
    * here, not left to filesystem timing. */
  def stageFile(dirPath: String, name: String, df: DataFrame, mtime: Long): Unit = {
    val tmp = create("stage_part")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = Paths.get(dirPath, s"$name.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    } finally delete(tmp)
  }

  /** Deletes every directory this instance handed out and still owns. */
  def sweep(): Unit = handedOut.forEach { dir =>
    try delete(dir) catch { case _: Throwable => () }
  }
}

object Scratch extends Scratch {
  java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => sweep(), "graft-scratch-sweep"))
}
