package graft

import java.io.File
import java.nio.file.Files

/** Where this JVM's temporary state lives and when it dies. Every
  * scratch path the library writes (query fixtures, sink round-trips,
  * prepared artifacts, Bench's tranche records, the default checkpoint
  * root) sits under one root, `/tmp/graft-<pid>`, and one shutdown hook
  * deletes that root. The root is emptied when this JVM first touches
  * it, so a killed JVM that had the same pid cannot hand over its state
  * (a stale `_DONE` least of all). A SIGKILL skips the hook; the next JVM
  * with that pid cleans up.
  *
  * The root stays under `/tmp`, not `java.io.tmpdir`: the benchmark
  * points `java.io.tmpdir` at its own work dir, and it counts and deletes
  * `/tmp/graft*` itself.
  */
private[graft] object ScratchDirs {

  lazy val root: File = {
    val r = new File(s"/tmp/graft-${ProcessHandle.current().pid()}")
    deleteRecursively(r)
    Files.createDirectories(r.toPath)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(r)
      catch { case _: Throwable => () }))
    r
  }

  /** The session's `spark.sql.warehouse.dir`: managed tables
    * (`saveAsTable`) go with the root. */
  def warehouse: String = new File(root, "warehouse").getPath

  /** Hex key of the dir's canonical path — stable per filesystem
    * location, distinct across locations sharing a basename.
    */
  def pathKey(dir: String): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      new File(dir).getCanonicalPath))

  def deleteRecursively(root: File): Unit =
    if (root.exists()) {
      import scala.jdk.CollectionConverters._
      Files.walk(root.toPath).iterator().asScala.toSeq
        .reverse.foreach(p => Files.deleteIfExists(p))
    }

  private def at(dataDir: String, tag: String): File =
    new File(root, s"${tag}_${pathKey(dataDir)}")

  /** `tag`'s scratch dir for `dataDir`, emptied: state a query rebuilds
    * on every call, so no call observes another's leftovers. */
  def fresh(dataDir: String, tag: String): String = {
    val d = at(dataDir, tag)
    deleteRecursively(d)
    d.getPath
  }

  /** `tag`'s artifact dir for `dataDir`, built once per JVM: returns at
    * once when its `_DONE` marker exists, else empties the dir, runs
    * `build` on it and then writes `_DONE` — so a build that throws
    * leaves no marker and the next call rebuilds from empty. */
  def built(dataDir: String, tag: String)(build: String => Unit): String = {
    val d = at(dataDir, tag)
    val done = new File(d, "_DONE")
    if (!done.exists()) {
      deleteRecursively(d)
      build(d.getPath)
      Files.createDirectories(d.toPath)
      Files.createFile(done.toPath)
    }
    d.getPath
  }
}
