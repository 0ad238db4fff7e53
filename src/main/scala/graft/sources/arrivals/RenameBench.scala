package graft.sources.arrivals

import java.nio.file.{Files, Paths}

/** Commit-rename throughput benchmark for the arrivals source (VERDICT
  * r9 item 6 — the flagship source's end-to-end scale number beside its
  * semantics proofs): generate N pending files, drain them into ONE
  * offset, and time `commit()`'s rename leg — sequential on the driver,
  * the source's only commit path, as the reference's own rename loop is
  * (CephFSEventReader.java:196-207).
  *
  * The renames go through `ArrivalsUtil.fileSystem`, the raw local
  * filesystem on file:// paths: about 35 µs per file (two stats and a
  * rename) on a 4-core ext4 box, against about 90-140 µs through
  * Hadoop's checksummed `LocalFileSystem`.
  *
  * Run: SPARK_GRAFT_RENAMEBENCH_FILES=100000 SPARK_GRAFT_CPUS=4 \
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

    def run(label: String): Double = {
      val dir = Files.createTempDirectory(s"arrivals-renamebench-$label-")
      mkFiles(dir)
      val opts = ArrivalsOptions.from(Map(
        "path" -> dir.toString,
        "maxFilesPerTrigger" -> n.toString))
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

    // one untimed pass warms the JVM and the filesystem, then one timed pass
    run("warmup")
    val seq = run("driver-sequential")
    println(f"""{"metric":"arrivals_rename","files":$n,"driver_seq_sec":$seq%.2f,"renames_per_sec":${n / seq}%.0f}""")
    spark.stop()
  }
}
