package graft

import java.nio.file.Files

/** Subprocess probe for the RunAssets SHUTDOWN-HOOK leg (r12 verdict,
  * directive 6): registers two asset trees with real content, prints
  * their paths, and exits normally — the spec that launches this JVM
  * asserts both trees are GONE afterwards, i.e. the hook actually runs
  * and actually deletes, which no in-JVM test can observe (the suite's
  * own hook fires only after the suite can no longer assert).
  * The probe only registers paths and starts no Spark session, so the
  * probe JVM is cheap.
  */
object RunAssetsHookProbe {
  def main(args: Array[String]): Unit = {
    val a = Files.createTempDirectory("graft-hookprobe-a")
    Files.writeString(
      Files.createDirectory(a.resolve("part")).resolve("data.bin"), "x")
    val b = Files.createTempDirectory("graft-hookprobe-b")
    Files.writeString(b.resolve("one.parquet"), "y")
    RunAssets.register(a.toString)
    RunAssets.register(b.toString)
    // paths on stdout for the parent to re-check after exit
    println(a.toString)
    println(b.toString)
  }
}
