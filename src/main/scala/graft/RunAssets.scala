package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run-scoped parquet assets (minhash signatures, dup-pair ledger,
  * component labels, per-doc xent, term frequencies, unified ledger,
  * phash/mediafeat, …; [[Assets.builders]] lists them) and their one
  * memo, [[asset]]. The rules, stated once here and nowhere else:
  *
  *  - naming: `graft-<name>-<runId>-<seq>.parquet` under the JVM temp
  *    dir, from a per-JVM run id (so iterating on the code never reads a
  *    stale file) and a counter, never from the dir's hash (two corpus
  *    dirs whose hashes collide must not alias one asset);
  *  - cleanup: every path registers before it is written, and one JVM
  *    shutdown hook deletes the registered trees recursively
  *    (`File.deleteOnExit` cannot remove a non-empty parquet directory;
  *    before round 10 each run leaked a corpus-sized tokenized snapshot).
  *    At lake scale the assets live under an object-store run prefix
  *    with a TTL rule; the hook is that rule scaled to one node (see
  *    SCALE.md, run-scoped assets);
  *  - write with overwrite, then every consumer reads the file back;
  *  - once per (name, dir): concurrent first touches of one asset build
  *    it once, and the others wait for that build;
  *  - nested builds: a build may touch other assets (winnow labels →
  *    winnow pairs → winnow selection). The map only hands out a
  *    per-key cell, and the build runs under that cell's lock, never
  *    inside `computeIfAbsent` (a recursive update of one map, which its
  *    contract forbids). Builds nest in dependency order only, so locks
  *    are always taken outer → inner and concurrent legs on different
  *    assets never wait on each other;
  *  - retry: a build that throws records nothing, so the next call
  *    builds again (its half-written path is still registered for
  *    cleanup).
  */
object RunAssets {

  private val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new AtomicInteger(0)
  private final class Cell { var path: String = null }
  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** The asset `name` over corpus `dir`: `build` (by-name) runs and is
    * written on the first touch in this JVM; every call reads the file.
    */
  def asset(spark: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val cell = cells.computeIfAbsent((name, dir), _ => new Cell)
    val path = cell.synchronized {
      if (cell.path == null) {
        val p = register(s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft-$name-$runId-${seq.getAndIncrement()}.parquet")
        build.write.mode("overwrite").parquet(p)
        cell.path = p
      }
      cell.path
    }
    spark.read.parquet(path)
  }

  /** Register a run-scoped asset path for end-of-JVM cleanup; returns
    * the path so call sites can register inline. */
  def register(p: String): String = { paths.add(p); p }

  /** Registered-and-not-yet-deleted asset paths (for specs). */
  def registered: Seq[String] = {
    val it = paths.iterator(); val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Recursively delete every registered asset tree. Idempotent;
    * invoked by the JVM shutdown hook ONLY — the [[asset]] memo still
    * points at these paths, so draining the registry mid-session would
    * break every later asset read. */
  def cleanup(): Unit = {
    var p = paths.poll()
    while (p != null) {
      deleteTree(Paths.get(p))
      p = paths.poll()
    }
  }

  /** Delete ONE registered tree and forget it — the spec-safe surface
    * (a mid-session global cleanup would invalidate other suites'
    * memoized asset paths). */
  private[graft] def drop(p: String): Unit = {
    paths.remove(p)
    deleteTree(Paths.get(p))
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try {
        walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      } finally walk.close()
    }

  Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup(),
    "graft-run-assets-cleanup"))
}
