package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in a closed loop (one client: the next op starts
  * when the previous one returns) and writes the raw samples as JSON.
  * `run.py` turns them into metrics.
  *
  * usage: perfbench.Main --workload W --input DIR --state DIR --out FILE
  *          --seconds S --trace 0|1 --cores N --setups K --min-ops M
  *
  * Set-up is repeated K times, each on a new SparkSession and a fresh
  * state root (index root, streaming checkpoints, Spark local dir), so
  * the run reports a median set-up time. Timed ops run for S seconds
  * and at least M ops, or until the workload's input is used up. In a traced run the listeners
  * are attached to every other op only; the untraced ops in between
  * give the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val state = new File(opts("state"))
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val setups = opts("setups").toInt
    val minOps = opts("min-ops").toInt.max(if (traced) 2 else 1)

    val wl = Workload(workload, new File(opts("input")))
    val gc = new GcWatch
    val spans = new Spans
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var root: File = null
    var setupOk = true
    for (i <- 1 to setups) {
      if (spark != null) { wl.close(); spark.stop() }
      root = new File(state, s"setup-$i")
      val t0 = System.nanoTime()
      spark = session(cores, root)
      val check = wl.setup(spark, root, spans)
      spark.catalog.clearCache()
      graft.operators.Caches.release()
      setupS += (System.nanoTime() - t0) / 1e9
      setupOk &= check()
    }
    settle()

    val collector = if (traced) Some(new Collector(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    gc.reset()
    val start = System.nanoTime()
    val epochMs = System.currentTimeMillis()
    var n = 0
    while (!wl.exhausted && (n < minOps || (System.nanoTime() - start) / 1e9 < seconds)) {
      val tracedOp = collector.isDefined && n % 2 == 0
      val sc = spark.sparkContext
      org.apache.spark.sql.graft.shim.drainListeners(spark)
      if (tracedOp) collector.get.begin(n)
      val disk0 = Disk.snapshot(root)
      val gc0 = gc.collectionMs
      sc.addJobTag(Collector.TagPrefix + n)
      spans.op = n
      val t0 = System.nanoTime()
      val check = try spans("op") {
        val c = wl.op(spark, root, spans)
        spans("caches.release") {
          spark.catalog.clearCache()
          graft.operators.Caches.release()
        }
        Some(c)
      } catch {
        case t: Throwable =>
          System.err.println(s"perfbench: op $n failed: $t")
          None
      }
      val t1 = System.nanoTime()
      sc.removeJobTag(Collector.TagPrefix + n)
      val gcOpMs = gc.collectionMs - gc0
      val liveAfter = settle()
      val stats = if (tracedOp) Some(collector.get.end(n)) else None
      val disk1 = Disk.snapshot(root)
      val cachedBlocks = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
      val ok = check.exists(c => try c() catch {
        case t: Throwable =>
          System.err.println(s"perfbench: op $n check failed: $t")
          false
      })
      if (!ok) System.err.println(s"perfbench: op $n output wrong")
      ops += Map("op" -> n, "traced" -> tracedOp, "ok" -> ok,
        "latency_s" -> (t1 - t0) / 1e9, "heap_live_after_bytes" -> liveAfter,
        "gc_ms" -> gcOpMs,
        "blocks_left" -> cachedBlocks,
        "disk_bytes_written" -> Disk.written(disk0, disk1), "disk_files" -> disk1.size) ++
        stats.map(statsJson).getOrElse(Map.empty)
      n += 1
    }
    val out = Map[String, Any](
      "workload" -> workload, "cores" -> cores,
      "input_bytes" -> wl.inputBytes, "input_items" -> wl.inputItems,
      "setup_s" -> setupS.toSeq, "setup_ok" -> setupOk, "epoch_ms" -> epochMs,
      "heap_live_peak_bytes" -> gc.peakBytes, "gc_samples" -> gc.sampleCount,
      "ops" -> ops.toSeq,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - start) / 1e9, "end_s" -> (s.endNs - start) / 1e9)))
    val w = new PrintWriter(opts("out"), "UTF-8")
    try w.println(org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
    finally w.close()
    wl.close()
    spark.stop()
  }

  /** A full collection outside any op's timing, then a pause for the
    * cleanup it sets off (Spark's ContextCleaner drops the shuffles and
    * blocks of collected RDDs asynchronously), so every op starts from
    * the same state. Returns the heap left live, in bytes. */
  private def settle(): Long = {
    System.gc()
    val live = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    Thread.sleep(500)
    live
  }

  private def statsJson(s: OpStats): Map[String, Any] = s.synchronized(Map(
    "jobs" -> s.jobs, "tagged_jobs" -> s.taggedJobs, "stages" -> s.stages,
    "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "sql_execs" -> s.sqlExecs,
    "task_ms" -> s.taskMs, "task_cpu_ns" -> s.taskCpuNs,
    "sched_wait_ms" -> s.schedWaitMs, "fetch_wait_ms" -> s.fetchWaitMs,
    "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
    "spill_bytes" -> s.spill, "input_bytes" -> s.input, "output_bytes" -> s.output,
    "analysis_ms" -> s.analysisMs, "optimization_ms" -> s.optimizationMs,
    "planning_ms" -> s.planningMs, "storage_peak_bytes" -> s.storagePeak,
    "task_intervals_ms" -> s.taskIntervals.map { case (a, b) => Seq(a, b) }.toSeq,
    "stream_batches" -> s.streamBatches.toSeq))

  /** Same settings as `graft.Bench`, with every directory the session
    * writes to under this set-up's own root. */
  private def session(cores: Int, root: File): SparkSession = {
    root.mkdirs()
    System.setProperty("graft.index.root", new File(root, "index").getAbsolutePath)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(root, "checkpoint").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Files under a state root: path -> (length, mtime). */
object Disk {
  def snapshot(dir: File): Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) b += f.getPath -> ((f.length, f.lastModified))
    walk(dir)
    b.result()
  }

  /** Bytes of the files that are new or changed in `after`; files an op
    * both creates and deletes are not seen. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
}
