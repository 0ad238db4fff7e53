package graft.sources.arrivals

import java.nio.file.{Files, Paths}

/** Synthetic listing benchmark for the arrivals source's cursored listing
  * (VERDICT r7 item 7): generate N pending files once, then
  *
  *   1. time the raw full-directory listing (`ArrivalsUtil.listCandidates`)
  *      — the per-trigger cost the PRE-cursor design paid on EVERY batch;
  *   2. drive a real `ArrivalsMicroBatchStream` drain (latestOffset loop,
  *      renames included) and read back the `listingCalls` metric,
  *      proving the cursored design pays that cost ONCE per drain cycle.
  *
  * The complexity-class claim this records for BASELINE.md: legacy
  * drain listing work = batches × t_list (quadratic in backlog for a
  * fixed trigger cap); cursored = 1 × t_list + O(1) trailing re-list.
  * No SparkSession needed — listing and driver-side renames are pure
  * Hadoop-FS driver work, which is exactly the point being measured.
  *
  * Run: SPARK_GRAFT_LISTBENCH_FILES=1000000 sbt "runMain graft.sources.arrivals.ListingBench"
  */
object ListingBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_LISTBENCH_FILES", "200000").toInt
    val cap = sys.env.getOrElse("SPARK_GRAFT_LISTBENCH_TRIGGER", "1000").toInt
    val dir = Files.createTempDirectory("arrivals-listbench-")
    println(s"[listbench] creating $n files under $dir ...")
    val t0 = System.nanoTime()
    var i = 0
    val payload = "x".getBytes("UTF-8")
    while (i < n) {
      Files.write(Paths.get(dir.toString, f"f$i%08d"), payload)
      i += 1
    }
    println(f"[listbench] created $n files in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val opts = ArrivalsOptions.from(Map(
      "path" -> dir.toString, "maxFilesPerTrigger" -> cap.toString))
    val dirPath = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = ArrivalsUtil.fileSystem(dirPath, ArrivalsUtil.hadoopConf())

    // 1. raw full-listing cost (warm + median of 3)
    def listOnce(): Double = {
      val t = System.nanoTime()
      val c = ArrivalsUtil.listCandidates(fs, dirPath, opts, None)
      require(c.size == n, s"listing saw ${c.size}, expected $n")
      (System.nanoTime() - t) / 1e9
    }
    listOnce() // warm dentry caches
    val tList = Seq(listOnce(), listOnce(), listOnce()).sorted.apply(1)
    val batches = math.ceil(n.toDouble / cap).toLong
    println(f"[listbench] full listing of $n files: $tList%.3f s (median of 3, warm)")
    println(f"[listbench] legacy per-trigger design listing cost for one drain: $batches×$tList%.3f = ${batches * tList}%.1f s")

    // 2. real cursored drain: latestOffset loop until the backlog is gone
    // (renames included — they are the same cost in both designs)
    val st = new ArrivalsMicroBatchStream(opts)
    val tDrain0 = System.nanoTime()
    var off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    var offered = off.files.size.toLong
    var batchesRun = 1L
    var prevSeq = 0L
    while (off.seq != prevSeq) {
      prevSeq = off.seq
      off = st.latestOffset().asInstanceOf[ArrivalsOffset]
      if (off.seq != prevSeq) { offered += off.files.size; batchesRun += 1 }
    }
    val tDrain = (System.nanoTime() - tDrain0) / 1e9
    val calls = st.metrics(java.util.Optional.empty()).get("listingCalls").toLong
    require(offered == n, s"drained $offered files, expected $n")
    println(f"[listbench] cursored drain: $offered files / $batchesRun batches in $tDrain%.1f s, " +
      s"listingCalls=$calls (legacy design: $batches)")
    println(f"[listbench] listing work saved per drain cycle: ${(batches - calls) * tList}%.1f s " +
      f"(${batches - calls} avoided listings × $tList%.3f s)")

    // cleanup (renamed .COMPLETED files)
    println("[listbench] cleaning up ...")
    fs.delete(dirPath, true)
    println("[listbench] done")
  }
}
