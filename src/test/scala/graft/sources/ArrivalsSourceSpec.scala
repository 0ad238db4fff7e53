package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.sources.arrivals._
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset}

/** Integration + unit tests for the `arrivals` streaming source —
  * mirrors and exceeds the reference's TestCephSource.java end-to-end
  * tests (FIXTURES.md §2): content fidelity, rename-commit, consumeOrder
  * incl. tiebreaks, filtering, empty dir, restart exactly-once, collision,
  * charset, lifecycle, offset round-trip.
  */
class ArrivalsSourceSpec extends SparkTestBase {

  private var seq = 0
  private def tmpDir(): File = {
    seq += 1
    val d = Files.createTempDirectory(s"arrivals-$seq-").toFile
    d.deleteOnExit(); d
  }

  private def write(dir: File, name: String, content: String, mtime: Long): File = {
    val f = new File(dir, name)
    Files.write(f.toPath, content.getBytes("UTF-8"))
    assert(f.setLastModified(mtime))
    f
  }

  /** Poll until cond holds (source `commit` — the rename — runs at the
    * NEXT trigger after a batch is durably committed, so tests must keep
    * the query alive briefly past processAllAvailable). */
  private def awaitCond(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, "condition not met within timeout")
  }

  /** Run the arrivals stream on dir until drained; return collected rows
    * in arrival order from a memory sink. */
  private def runStream(dir: File, queryName: String,
      options: Map[String, String] = Map.empty,
      awaitRenamed: Seq[String] = Nil): DataFrame = {
    var reader = spark.readStream.format("arrivals").option("path", dir.getAbsolutePath)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream.format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      awaitCond(awaitRenamed.forall(n => new File(dir, n).exists()))
    } finally q.stop()
    spark.table(queryName)
  }

  /** Run the arrivals stream into a parquet sink (supports checkpoint
    * recovery, unlike the memory sink) for restart/lifecycle tests. */
  private def runToParquet(dir: File, out: String, cp: String,
      awaitRenamed: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    var reader = spark.readStream.format("arrivals").option("path", dir.getAbsolutePath)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader
      .load().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      awaitCond(awaitRenamed.forall(n => new File(dir, n).exists()))
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("basic: one file → one row with exact CSV body bytes, renamed .COMPLETED") {
    val dir = tmpDir()
    // 2024-01-01 09:05:07 UTC — exercises the NON-padded H:m:s format
    val mtime = 1704099907000L
    write(dir, "file1", "seven\nlines\nof\ntext\nhere\nnow\nok\n", mtime)
    val rows = runStream(dir, "t_basic", awaitRenamed = Seq("file1.COMPLETED")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("file_name") == "file1")
    val absPath = new File(dir, "file1").getAbsolutePath
    // file_path is the fully-qualified URI; body keeps the reference's
    // scheme-less CSV path
    assert(r.getAs[String]("file_path") == s"file:$absPath")
    assert(r.getAs[java.sql.Timestamp]("last_modified").getTime == mtime)
    val expectedBody = s"file1,$absPath,2024-01-01 9:5:7".getBytes("UTF-8")
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("body"), expectedBody))
    assert(!new File(dir, "file1").exists())
    assert(new File(dir, "file1.COMPLETED").exists())
  }

  test("source metrics (ref R8): offered/renamed/pending counters in query progress") {
    val dir = tmpDir()
    val t = 1704000000000L
    write(dir, "m1.dat", "x", t); write(dir, "m2.dat", "x", t); write(dir, "m3.dat", "x", t)
    val q = spark.readStream.format("arrivals").option("path", dir.getAbsolutePath)
      .load().writeStream.format("memory").queryName("t_metrics")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      def latestMetrics: Map[String, String] =
        q.recentProgress.toSeq.flatMap(p => p.sources.toSeq)
          .flatMap(s => Option(s.metrics).map(_.asScala.toMap)).lastOption
          .getOrElse(Map.empty)
      // renames land at the trigger AFTER the durable commit, and idle
      // triggers surface progress (with metrics) only every 10s
      // (noDataProgressEventInterval) — poll past TWO idle windows
      awaitCond({
        val m = latestMetrics
        m.get("filesOffered").contains("3") && m.get("filesRenamed").contains("3") &&
          m.get("pendingFiles").contains("0")
      }, timeoutMs = 30000)
      val m = latestMetrics
      assert(m("renameFailures") == "0", m.toString)
      assert(m("lastBatchFiles") == "3", m.toString)
      assert(m("lastBatchSeq") == "1", m.toString)
    } finally q.stop()
  }

  test("consumeOrder OLDEST: mtime asc, tie → lexicographically smallest") {
    val dir = tmpDir()
    val t0 = 1704000000000L; val t1 = 1704000060000L
    write(dir, "c.dat", "x", t1); write(dir, "b.dat", "x", t1); write(dir, "a.dat", "x", t0)
    val rows = runStream(dir, "t_oldest", Map("maxFilesPerTrigger" -> "1")).collect()
    assert(rows.map(_.getAs[String]("file_name")).toSeq == Seq("a.dat", "b.dat", "c.dat"))
  }

  test("consumeOrder YOUNGEST: mtime desc, tie still → smallest name") {
    val dir = tmpDir()
    val t0 = 1704000000000L; val t1 = 1704000060000L
    write(dir, "c.dat", "x", t1); write(dir, "b.dat", "x", t1); write(dir, "a.dat", "x", t0)
    val rows = runStream(dir, "t_youngest",
      Map("maxFilesPerTrigger" -> "1", "consumeOrder" -> "YOUNGEST")).collect()
    assert(rows.map(_.getAs[String]("file_name")).toSeq == Seq("b.dat", "c.dat", "a.dat"))
  }

  test("filtering: dirs, completed-suffix, dot-files, and ignorePattern excluded") {
    val dir = tmpDir()
    val t = 1704000000000L
    write(dir, "keep.dat", "x", t)
    write(dir, ".hidden", "x", t)
    write(dir, "done.dat.COMPLETED", "x", t)
    write(dir, "skip.tmp", "x", t)
    assert(new File(dir, "d").mkdir())
    val rows = runStream(dir, "t_filtered", Map("ignorePattern" -> ".*\\.tmp$"),
      awaitRenamed = Seq("keep.dat.COMPLETED")).collect()
    assert(rows.map(_.getAs[String]("file_name")).toSeq == Seq("keep.dat"))
    assert(new File(dir, "keep.dat.COMPLETED").exists())
    assert(new File(dir, "skip.tmp").exists()) // ignored, not consumed
    assert(new File(dir, ".hidden").exists())
  }

  test("empty dir: zero rows, no nulls (vs reference's null-event bug)") {
    val dir = tmpDir()
    val rows = runStream(dir, "t_empty").collect()
    assert(rows.isEmpty)
  }

  test("restart from checkpoint: committed files not re-emitted, new files picked up") {
    val dir = tmpDir()
    val cp = Files.createTempDirectory("arrivals-cp-").toString
    val out = Files.createTempDirectory("arrivals-out-").toString
    write(dir, "f1", "x", 1704000000000L)
    runToParquet(dir, out, cp, awaitRenamed = Seq("f1.COMPLETED"))
    write(dir, "f2", "x", 1704000060000L)
    runToParquet(dir, out, cp, awaitRenamed = Seq("f2.COMPLETED"))
    // exactly-once across restart: each file appears exactly once in the sink
    val names = spark.read.parquet(out).collect().map(_.getAs[String]("file_name")).sorted
    assert(names.toSeq == Seq("f1", "f2"))
    // the DURABLE offset log carries the cursor: every committed offset
    // line must single-line-parse back with the (mtime, name) watermark —
    // the end-to-end proof that the header extension survives Spark's
    // line-oriented HDFSMetadataLog, not just unit-level json round-trips
    val offsetFiles = new File(s"$cp/offsets").listFiles().filter(_.getName.forall(_.isDigit))
    assert(offsetFiles.nonEmpty, "no offset log written")
    val parsed = offsetFiles.sortBy(_.getName.toLong).map { f =>
      val lines = Files.readAllLines(f.toPath).asScala
      ArrivalsOffset.fromJson(lines.last) // v1 header + conf lines precede the source offset
    }
    val withData = parsed.filter(_.files.nonEmpty)
    assert(withData.nonEmpty, "expected at least one data batch in the offset log")
    withData.foreach { o =>
      assert(o.watermark.isDefined, s"offset $o lost its watermark through the log")
    }
    assert(withData.last.watermark.contains((1704000060000L, "f2")),
      s"final cursor must be f2's (mtime, name): ${withData.last.watermark}")
  }

  // ---- unit-level semantics on the stream object -------------------------

  private def stream(dir: File, extra: Map[String, String] = Map.empty): ArrivalsMicroBatchStream =
    new ArrivalsMicroBatchStream(ArrivalsOptions.from(
      Map("path" -> dir.getAbsolutePath) ++ extra))

  test("commit is idempotent on replay (post-crash double commit)") {
    val dir = tmpDir()
    write(dir, "x", "x", 1704000000000L)
    val st = stream(dir)
    val off = st.latestOffset()
    st.commit(off)
    assert(new File(dir, "x.COMPLETED").exists())
    st.commit(off) // replay after crash: source gone, dest exists → no-op
    assert(new File(dir, "x.COMPLETED").exists())
  }

  test("slicing: one contiguous partition per core, in admission order, each file once") {
    val st = stream(tmpDir())
    val files = (1 to 2000).map(i => FileMeta(f"file:/in/f$i%05d", 2000L - i))
    val parts = st.planInputPartitions(ArrivalsOffset(0, Nil), ArrivalsOffset(1, files))
      .map(_.asInstanceOf[ArrivalsPartition].files)
    val widths = parts.map(_.size).toSeq
    assert(widths.size == spark.sparkContext.defaultParallelism, widths)
    val flat = parts.toSeq.flatten
    val firstMismatch = flat.zip(files).indexWhere { case (a, b) => a != b }
    assert(flat.size == files.size && firstMismatch == -1)
    val one = st.planInputPartitions(ArrivalsOffset(0, Nil), ArrivalsOffset(1, files.take(1)))
    assert(one.length == 1)
  }

  test("rename once: commit(A) after latestOffset renamed A makes no filesystem call; " +
      "a fresh instance's commit still renames") {
    val dir = tmpDir()
    write(dir, "a1", "x", 1704000000000L); write(dir, "a2", "x", 1704000001000L)
    spark.conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    spark.conf.set("fs.countfs.impl.disable.cache", "true")
    try {
      def open() = new ArrivalsMicroBatchStream(ArrivalsOptions.from(
        Map("path" -> s"countfs://${dir.getAbsolutePath}")))
      val calls = CountingFileSystem.calls
      val st = open()
      val a = st.latestOffset().asInstanceOf[ArrivalsOffset]
      assert(a.files.map(_.name) == Seq("a1", "a2"))
      assert(a.files.forall(_.path.startsWith("countfs:")), a.files.toString)
      write(dir, "b1", "x", 1704000002000L)
      val b = st.latestOffset().asInstanceOf[ArrivalsOffset] // renames A, offers B
      assert(b.files.map(_.name) == Seq("b1"))
      assert(new File(dir, "a1.COMPLETED").exists() && new File(dir, "a2.COMPLETED").exists())
      // the engine commits A with a copy read back from its offset log
      val before = calls.get
      st.commit(st.deserializeOffset(a.json()))
      assert(calls.get == before, "commit re-statted a batch latestOffset already renamed")
      // a fresh instance (the restart replay) has renamed nothing yet
      val fresh = open()
      val beforeFresh = calls.get
      fresh.commit(fresh.deserializeOffset(b.json()))
      assert(calls.get > beforeFresh)
      assert(new File(dir, "b1.COMPLETED").exists() && !new File(dir, "b1").exists())
    } finally {
      spark.conf.unset("fs.countfs.impl")
      spark.conf.unset("fs.countfs.impl.disable.cache")
    }
  }

  test("raw handle: file: paths resolve past the checksum layer; a file with a .crc " +
      "sidecar is offered once and renamed, the sidecar never emitted") {
    val conf = spark.sessionState.newHadoopConf()
    val fsOf = (p: String) => ArrivalsUtil.fileSystem(new Path(p), conf)
    assert(!fsOf(tmpDir().getAbsolutePath).isInstanceOf[ChecksumFileSystem])
    conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.countfs.impl.disable.cache", "true")
    assert(fsOf(s"countfs://${tmpDir().getAbsolutePath}").isInstanceOf[CountingFileSystem])
    val local = FileSystem.getLocal(conf) // Hadoop's checksummed client writer
    val dir = tmpDir()
    val out = local.create(new Path(dir.getAbsolutePath, "w1"), false)
    out.write("x".getBytes("UTF-8")); out.close()
    assert(new File(dir, ".w1.crc").exists(), "LocalFileSystem wrote no sidecar")
    val rows = runStream(dir, "t_crc", awaitRenamed = Seq("w1.COMPLETED")).collect()
    assert(rows.map(_.getAs[String]("file_name")).toSeq == Seq("w1"))
    assert(!new File(dir, "w1").exists())
    // a raw rename moves the file alone, as the reference's java.io.File one does
    assert(new File(dir, ".w1.crc").exists())
    assert(!new File(dir, ".w1.COMPLETED.crc").exists())
  }

  /** The rows a batch emits, read back through the partition reader. */
  private def emitted(st: ArrivalsMicroBatchStream, start: ArrivalsOffset,
      end: ArrivalsOffset): Seq[String] =
    st.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = new ArrivalsPartitionReader(p.asInstanceOf[ArrivalsPartition])
      Iterator.continually(r).takeWhile(_.next()).map(_.get().getUTF8String(0).toString).toSeq
    }

  test("a file deleted between offer and commit: its row still comes from the offset, " +
      "commit does not throw, and it counts as neither a failure nor a rename") {
    val dir = tmpDir()
    write(dir, "keep", "x", 1704000000000L)
    val gone = write(dir, "gone", "x", 1704000001000L)
    val st = stream(dir)
    val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(off.files.map(_.name) == Seq("keep", "gone"))
    assert(gone.delete())
    assert(emitted(st, ArrivalsOffset(0, Nil), off) == Seq("keep", "gone"))
    st.commit(off)
    val m = st.metrics(java.util.Optional.empty()).asScala
    assert(m("renameFailures") == "0" && m("filesRenamed") == "1", m.toString)
    assert(new File(dir, "keep.COMPLETED").exists())
    assert(!new File(dir, "gone").exists() && !new File(dir, "gone.COMPLETED").exists())
  }

  test("legacy offsets: scheme-less paths deserialize to file: URIs, and a stream " +
      "restored from one does not offer its files again") {
    val dir = tmpDir()
    val old = write(dir, "old1", "x", 1704000000000L)
    write(dir, "new1", "x", 1704000001000L)
    val legacy = ArrivalsOffset(3, Seq(FileMeta(old.getAbsolutePath, 1704000000000L)))
    assert(!legacy.json().contains("file:"))
    val st = stream(dir)
    val restored = st.deserializeOffset(legacy.json()).asInstanceOf[ArrivalsOffset]
    assert(restored.files.map(_.path) == Seq(s"file:${old.getAbsolutePath}"))
    val next = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(next.seq == 4 && next.files.map(_.name) == Seq("new1"), next.toString)
    assert(new File(dir, "old1.COMPLETED").exists() && !old.exists())
  }

  test("commit collision: source AND dest exist → IllegalStateException (ref semantics)") {
    val dir = tmpDir()
    write(dir, "x", "x", 1704000000000L)
    val st = stream(dir)
    val off = st.latestOffset()
    write(dir, "x.COMPLETED", "pre-existing", 1704000000000L)
    assertThrows[IllegalStateException](st.commit(off))
  }

  test("replay plans rows from the offset alone, even after external rename") {
    val dir = tmpDir()
    val f = write(dir, "gone", "x", 1704000000000L)
    val st = stream(dir)
    val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    // simulate: crash after offset log write; file externally renamed
    assert(f.renameTo(new File(dir, "gone.COMPLETED")))
    val st2 = stream(dir)
    val replayed = st2.deserializeOffset(off.json()).asInstanceOf[ArrivalsOffset]
    val parts = st2.planInputPartitions(ArrivalsOffset(0, Nil), replayed)
    val names = parts.flatMap(_.asInstanceOf[ArrivalsPartition].files.map(_.name))
    assert(names.toSeq == Seq("gone"))
  }

  test("offset json round-trips hostile paths (tabs, newlines, backslashes)") {
    val off = ArrivalsOffset(7, Seq(
      FileMeta("/a/b\tc", 123L), FileMeta("/a/line\nbreak", 456L),
      FileMeta("/a/back\\slash", 789L), FileMeta("/a/ctlsep", 999L)))
    assert(ArrivalsOffset.fromJson(off.json()) == off)
    // the offset log is line-oriented: a multi-line offset corrupts it
    assert(!off.json().contains('\n'))
    // ordinary paths take the no-escape fast path and still round-trip
    val clean = ArrivalsOffset(8, (1 to 2000).map(i => FileMeta(f"file:/in/f$i%05d.dat", i.toLong)))
    assert(ArrivalsOffset.fromJson(clean.json()) == clean)
  }

  test("empty-dir latestOffset is stable (no spurious batches)") {
    val dir = tmpDir()
    val st = stream(dir)
    val o1 = st.latestOffset(); val o2 = st.latestOffset()
    assert(o1.asInstanceOf[ArrivalsOffset].seq == 0)
    assert(o2.asInstanceOf[ArrivalsOffset].seq == 0)
  }

  test("charset: body encoded per inputCharset (UTF-16 vs UTF-8 bytes differ)") {
    // the test JVM's sun.jnu.encoding can't create non-ASCII filenames, so
    // prove charset application with UTF-16 (distinct bytes even for ASCII)
    val dir = tmpDir()
    val mtime = 1704099907000L
    write(dir, "data1", "x", mtime)
    val st = stream(dir, Map("inputCharset" -> "UTF-16"))
    val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    val parts = st.planInputPartitions(ArrivalsOffset(0, Nil), off)
    val reader = new ArrivalsPartitionReader(parts.head.asInstanceOf[ArrivalsPartition])
    assert(reader.next())
    val body = reader.get().getBinary(3)
    val path = new File(dir, "data1").getAbsolutePath
    val expected = s"data1,$path,2024-01-01 9:5:7".getBytes("UTF-16")
    assert(java.util.Arrays.equals(body, expected))
    assert(!java.util.Arrays.equals(body,
      s"data1,$path,2024-01-01 9:5:7".getBytes("UTF-8")))
  }

  test("option validation fails fast: missing path, bad order, bad regex, bad charset, bad zone") {
    assertThrows[IllegalArgumentException](ArrivalsOptions.from(Map.empty))
    assertThrows[IllegalArgumentException](
      ArrivalsOptions.from(Map("path" -> "/tmp", "consumeOrder" -> "NEWEST")))
    // options under which the stream would idle silently: no file is ever
    // admitted, or every name counts as completed
    Seq("0", "-1").foreach { n =>
      assertThrows[IllegalArgumentException](
        ArrivalsOptions.from(Map("path" -> "/tmp", "maxFilesPerTrigger" -> n)))
    }
    assertThrows[IllegalArgumentException](
      ArrivalsOptions.from(Map("path" -> "/tmp", "fileSuffix" -> "")))
    intercept[Exception](ArrivalsOptions.from(Map("path" -> "/tmp", "ignorePattern" -> "[")))
    intercept[Exception](ArrivalsOptions.from(Map("path" -> "/tmp", "inputCharset" -> "NOPE")))
    intercept[Exception](ArrivalsOptions.from(Map("path" -> "/tmp", "timeZone" -> "Mars/Olympus")))
  }

  test("reference backoff knobs are accepted-but-inert (validated, warned, never applied)") {
    // a migrated reference config carrying channel-backoff settings must
    // neither break nor silently pretend to back off
    val warns = ArrivalsOptions.warnInertOptions(
      Map("path" -> "/tmp", "maxBackoffSleep" -> "4000", "backoffSleepIncrement" -> "1000"))
    assert(warns.size == 2 && warns.forall(_.contains("no effect")), warns.toString)
    assert(ArrivalsOptions.warnInertOptions(Map("path" -> "/tmp")).isEmpty)
    // so are the removed rename fan-out and refresh-listing options: a
    // config that still sets them starts, and is told they do nothing
    val removed = Map("executorRenameThreshold" -> "1", "listingRefreshTriggers" -> "2")
    val removedWarns = ArrivalsOptions.warnInertOptions(Map("path" -> "/tmp") ++ removed)
    assert(removedWarns.size == 2 && removedWarns.forall(_.contains("has no effect")),
      removedWarns.toString)
    assert(removed.keys.forall(k => removedWarns.exists(_.contains(k.toLowerCase))))
    ArrivalsOptions.from(Map("path" -> "/tmp") ++ removed)
    // still validated: garbage values fail fast like any other option
    intercept[Exception](
      ArrivalsOptions.warnInertOptions(Map("maxBackoffSleep" -> "soon")))
  }

  test("RANDOM drains its listing snapshot before re-listing (ref cached-iterator fidelity)") {
    // CephFSEventReader.java:32-33,107-110 caches the listing iterator
    // and rescans only when it drains: a file arriving mid-drain must
    // NOT be offered until the snapshot is exhausted.
    val dir = tmpDir()
    val t0 = 1704000000000L
    write(dir, "a", "x", t0); write(dir, "b", "x", t0 + 1000)
    val st = stream(dir, Map("consumeOrder" -> "RANDOM", "maxFilesPerTrigger" -> "1"))
    def offer(prev: ArrivalsOffset): ArrivalsOffset = {
      val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
      assert(off.seq == prev.seq + 1, s"expected a new batch after $prev, got $off")
      off
    }
    val o1 = offer(ArrivalsOffset(0, Nil))
    val first = o1.files.map(_.name)
    assert(first.size == 1 && Set("a", "b").contains(first.head))
    // a new file lands while the snapshot still holds the other of {a,b}
    write(dir, "c", "x", t0 - 5000)
    val o2 = offer(o1)
    val second = o2.files.map(_.name)
    assert(second == (Seq("a", "b") diff first), s"mid-drain arrival jumped the snapshot: $second")
    // snapshot drained -> rescan picks up c
    val o3 = offer(o2)
    assert(o3.files.map(_.name) == Seq("c"), o3.files.map(_.name).toString)
  }

  private def listingCalls(st: ArrivalsMicroBatchStream): Long =
    st.metrics(java.util.Optional.empty[SOffset]()).asScala("listingCalls").toLong

  test("incremental cursor: a 10k-file backlog drains with ONE listing call, not one per batch") {
    // VERDICT r7 item 3: at millions of pending files a per-trigger
    // re-list is the driver bottleneck — the backlog cursor must change
    // the complexity class (listings per drain cycle = 1, not batches).
    val dir = tmpDir()
    val t0 = 1704000000000L
    (1 to 10000).foreach(i => write(dir, f"f$i%05d", "x", t0 + i * 1000L))
    val st = stream(dir, Map("maxFilesPerTrigger" -> "1000"))
    var off = ArrivalsOffset(0, Nil)
    val got = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 10).foreach { _ =>
      val o = st.latestOffset().asInstanceOf[ArrivalsOffset]
      assert(o.seq == off.seq + 1, s"expected a new batch, got $o after $off")
      got ++= o.files.map(_.name)
      off = o
    }
    assert(got.size == 10000 && got.distinct.size == 10000, s"${got.size}/${got.distinct.size}")
    assert(got.toSeq == got.toSeq.sorted, "OLDEST global order must hold across the whole drain")
    assert(listingCalls(st) == 1,
      s"backlog drain must not re-list (${listingCalls(st)} listing calls for 10 batches)")
    // every offered offset carries the persisted cursor (max mtime/name seen)
    assert(off.watermark.contains((t0 + 10000 * 1000L, "f10000")), off.watermark.toString)
    // drained: the next trigger is allowed its one re-list (and renames
    // the final batch); nothing new → offset unchanged
    val after = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(after.seq == off.seq)
  }

  test("refresh off (default): a mid-drain gap file waits for the drain-time full list") {
    val dir = tmpDir()
    val t0 = 1704000000000L
    write(dir, "x1", "x", t0 + 1000L); write(dir, "x2", "x", t0 + 2000L)
    val st = stream(dir, Map("maxFilesPerTrigger" -> "1"))
    val o1 = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(o1.files.map(_.name) == Seq("x1"))
    write(dir, "gap", "x", t0 - 99000L) // below watermark, mid-drain
    val o2 = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(o2.files.map(_.name) == Seq("x2"), "no refresh → snapshot order holds")
    assert(listingCalls(st) == 1)
    val o3 = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(o3.files.map(_.name) == Seq("gap"), "drain-time full list must catch the gap")
    assert(listingCalls(st) == 2)
  }

  test("offset watermark round-trips, and legacy pre-watermark offsets still parse") {
    val withWm = ArrivalsOffset(9, Seq(FileMeta("/d/x", 5L)),
      Some((1704000000000L, "tricky\tname\\with\nhostiles")))
    assert(ArrivalsOffset.fromJson(withWm.json()) == withWm)
    assert(!withWm.json().contains('\n'))
    // a watermark-less offset encodes header-compatibly with the legacy
    // layout, and a legacy header (bare seq) parses to watermark=None —
    // an in-place upgrade must restart cleanly from an old checkpoint
    val legacy = ArrivalsOffset(7, Seq(FileMeta("/d/y", 3L)))
    assert(ArrivalsOffset.fromJson(legacy.json()) == legacy)
    assert(ArrivalsOffset.fromJson("4").seq == 4L)
    assert(ArrivalsOffset.fromJson("4").watermark.isEmpty)
  }

  test("timeZone: body timestamp rendered in the configured zone (default stays UTC)") {
    // the reference formats with a default-zone Calendar
    // (CephFSEventReader.java:230-235); the timeZone option reproduces
    // that byte-fidelity for any ingest-host zone. 1704099907000 ms =
    // 2024-01-01 09:05:07 UTC = 17:05:07 in Asia/Shanghai (+8, no DST).
    val dir = tmpDir()
    val mtime = 1704099907000L
    write(dir, "data1", "x", mtime)
    val st = stream(dir, Map("timeZone" -> "Asia/Shanghai"))
    val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    val parts = st.planInputPartitions(ArrivalsOffset(0, Nil), off)
    val reader = new ArrivalsPartitionReader(parts.head.asInstanceOf[ArrivalsPartition])
    assert(reader.next())
    val body = new String(reader.get().getBinary(3), "UTF-8")
    val path = new File(dir, "data1").getAbsolutePath
    assert(body == s"data1,$path,2024-01-01 17:5:7", body)
  }

  test("canary: nonexistent directory fails fast at stream init") {
    intercept[Exception](stream(new File("/nonexistent-arrivals-dir")))
  }

  test("batch read: snapshot of pending files, ordered, nothing renamed") {
    val dir = tmpDir()
    val t0 = 1704000000000L
    write(dir, "b", "x", t0 + 1000); write(dir, "a", "x", t0)
    write(dir, "done.COMPLETED", "x", t0); write(dir, ".h", "x", t0)
    val rows = spark.read.format("arrivals").option("path", dir.getAbsolutePath)
      .load().collect()
    assert(rows.map(_.getAs[String]("file_name")).toSeq == Seq("a", "b"))
    // read-only: files still present, unrenamed
    assert(new File(dir, "a").exists() && new File(dir, "b").exists())
    // second batch read sees the same snapshot (no consumption)
    val again = spark.read.format("arrivals").option("path", dir.getAbsolutePath)
      .load().count()
    assert(again == 2)
  }

  test("throughput: 2000 files drain exactly-once across batched triggers") {
    // the reference's weak spot (O(n²) drain, README.md:31 warns about
    // large directories); ours lists once per trigger and admits
    // maxFilesPerTrigger — 2000 files should drain in a few batches
    val dir = tmpDir()
    val t0 = 1704000000000L
    (1 to 2000).foreach(i => write(dir, f"f$i%05d", "x", t0 + i))
    val start = System.nanoTime()
    val rows = runStream(dir, "t_bulk", Map("maxFilesPerTrigger" -> "500"),
      awaitRenamed = Seq("f02000.COMPLETED")).collect()
    val secs = (System.nanoTime() - start) / 1e9
    assert(rows.length == 2000, s"expected 2000 rows, got ${rows.length}")
    assert(rows.map(_.getAs[String]("file_name")).distinct.length == 2000, "duplicates emitted")
    // OLDEST ordering is a BATCH-level contract: each 500-file trigger
    // admits exactly the next 500 oldest files (within a batch, the
    // defaultParallelism partitions append to the sink in parallel — row
    // order there is not a contract)
    val names = rows.map(_.getAs[String]("file_name")).toSeq
    names.grouped(500).zipWithIndex.foreach { case (chunk, i) =>
      val expected = (i * 500 + 1 to i * 500 + 500).map(n => f"f$n%05d").toSet
      assert(chunk.toSet == expected, s"batch $i admitted wrong file set")
    }
    assert(dir.listFiles().forall(_.getName.endsWith(".COMPLETED")))
    info(f"drained 2000 files in $secs%.1f s (${2000 / secs}%.0f files/s)")
    assert(secs < 120, f"drain too slow: $secs%.1f s")
  }

  test("lifecycle: start/stop ×10 with a shared checkpoint stays clean") {
    val dir = tmpDir()
    val cp = Files.createTempDirectory("arrivals-lc-").toString
    val out = Files.createTempDirectory("arrivals-lcout-").toString
    (1 to 10).foreach { _ => runToParquet(dir, out, cp) }
  }

  test("composition: arrivals → event-time windows → streaming heavy hitters, " +
      "cross-batch counts + commit renames through the stateful query") {
    // the arrivals-to-analytics showcase: ONE query is both the
    // directory's committing consumer (renames) and the analytics
    // pipeline (watermarked tumbling windows → bounded top-k state)
    val dir = tmpDir()
    val W = 60000L
    val base = 1704067200000L // window-aligned minute
    // micro-batch 1 seeds window 0: alpha×2, beta×1
    write(dir, "alpha_1", "a", base + 1000)
    write(dir, "alpha_2", "a", base + 2000)
    write(dir, "beta_1", "b", base + 3000)
    val arrivals = spark.readStream.format("arrivals")
      .option("path", dir.getAbsolutePath).load()
    val hh = graft.streaming.ArrivalsAnalytics.fileHeavyHitters(
      arrivals, W, delay = "1 second", k = 2, capacity = 8)
    val q = hh.writeStream.format("memory").queryName("t_compose")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      awaitCond(Seq("alpha_1", "alpha_2", "beta_1")
        .forall(n => new File(dir, n + ".COMPLETED").exists()))
      assert(spark.table("t_compose").count() == 0,
        "window 0 still open — nothing may emit")
      // micro-batch 2 accumulates into the SAME open window across the
      // batch boundary: alpha×1, beta×1, gamma×1
      write(dir, "alpha_3", "a", base + 4000)
      write(dir, "beta_2", "b", base + 5000)
      write(dir, "gamma_1", "c", base + 6000)
      q.processAllAvailable()
      assert(spark.table("t_compose").count() == 0)
      // a file in the NEXT window advances the watermark past window
      // 0's end → window-0 finals fire exactly once
      write(dir, "zeta_1", "z", base + W + 30000)
      q.processAllAvailable()
      awaitCond(spark.table("t_compose").count() >= 2)
      awaitCond(Seq("alpha_3", "beta_2", "gamma_1", "zeta_1")
        .forall(n => new File(dir, n + ".COMPLETED").exists()))
    } finally q.stop()
    val w0 = spark.table("t_compose").collect()
      .filter(_.getAs[Long]("window_start_ms") == base)
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("est_count"),
        r.getAs[Long]("max_err")))
      .toSeq.sortBy(_._1)
    // top-2 producers of window 0, exact (capacity 8 > 3 distinct)
    assert(w0 == Seq(("alpha", 3L, 0L), ("beta", 2L, 0L)), w0.toString)
  }

  // ---- failure injection (r9 stretch): crash mid-commit, restart,
  // ---- exactly-once ----------------------------------------------------

  test("failure injection: multi-batch renames, restart from checkpoint — no file lost, none double-emitted") {
    val dir = tmpDir()
    val cp = Files.createTempDirectory("arrivals-fi-cp-").toString
    val out = Files.createTempDirectory("arrivals-fi-out-").toString
    // 60 files at 25 per trigger: three batches, each committed by rename
    val capped = Map("maxFilesPerTrigger" -> "25")
    (1 to 60).foreach(i => write(dir, f"a$i%02d", s"c$i", 1704000000000L + i * 1000))
    runToParquet(dir, out, cp,
      awaitRenamed = (1 to 60).map(i => f"a$i%02d.COMPLETED"), options = capped)
    // stop (a clean kill), add 15 more, restart from the SAME checkpoint
    (61 to 75).foreach(i => write(dir, f"a$i%02d", s"c$i", 1704000000000L + i * 1000))
    runToParquet(dir, out, cp,
      awaitRenamed = (61 to 75).map(i => f"a$i%02d.COMPLETED"), options = capped)
    // exactly-once across the restart: all 75, each exactly once
    val names = spark.read.parquet(out).collect().map(_.getAs[String]("file_name"))
    assert(names.length == 75 && names.toSet.size == 75,
      s"expected 75 distinct, got ${names.length}/${names.toSet.size}")
    // nothing left unrenamed, nothing renamed twice
    assert(dir.listFiles().forall(_.getName.endsWith(".COMPLETED")))
    assert(!dir.listFiles().exists(_.getName.endsWith(".COMPLETED.COMPLETED")))
  }

  test("failure injection: crash MID-COMMIT (partial renames) → replayed commit completes idempotently") {
    // the one delivery corner the e2e restart can't hit deterministically:
    // the process dies after the offset is durably logged and SOME of the
    // batch's renames have run. On restart Spark replays the batch (sink
    // dedups by batchId) and re-invokes commit — which must rename the
    // REMAINING files and no-op the already-renamed ones (source gone,
    // dest exists), never throw, never double-rename.
    val dir = tmpDir()
    (1 to 20).foreach(i => write(dir, f"m$i%02d", s"c$i", 1704000000000L + i * 1000))
    val st = stream(dir)
    val off = st.latestOffset().asInstanceOf[ArrivalsOffset]
    assert(off.files.size == 20)
    // CRASH: 7 of the 20 renames completed before the process died
    off.files.take(7).foreach { f =>
      val src = new File(f.path.stripPrefix("file:"))
      assert(src.renameTo(new File(src.getParentFile, src.getName + ".COMPLETED")))
    }
    // restart replays the commit over the partially-renamed set
    st.commit(off)
    (1 to 20).foreach { i =>
      assert(new File(dir, f"m$i%02d.COMPLETED").exists(), s"m$i lost")
      assert(!new File(dir, f"m$i%02d").exists(), s"m$i not renamed")
    }
    assert(!dir.listFiles().exists(_.getName.endsWith(".COMPLETED.COMPLETED")))
    // a SECOND full replay (crash after commit, before the commit log
    // write) must also be a clean no-op
    st.commit(off)
    assert(dir.listFiles().count(_.getName.endsWith(".COMPLETED")) == 20)
  }
}

/** The local filesystem under the test-only `countfs` scheme, counting
  * the calls a listing or rename pass makes. Hadoop instantiates it by
  * reflection, so the counter is global. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  private def counted[T](body: => T): T = { CountingFileSystem.calls.incrementAndGet(); body }
  override def exists(p: Path): Boolean = counted(super.exists(p))
  override def getFileStatus(p: Path): FileStatus = counted(super.getFileStatus(p))
  override def rename(src: Path, dst: Path): Boolean = counted(super.rename(src, dst))
  override def listStatus(p: Path): Array[FileStatus] = counted(super.listStatus(p))
}

object CountingFileSystem {
  val calls = new AtomicLong()
}
