package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus

/** One run of one workload: set up, warm up, run ops in a closed loop for
  * at least the given seconds, check the outputs, print the report and, as
  * the last stdout line, the result JSON. See etlbench/README.md.
  */
object Main {
  private val MB = 1024.0 * 1024.0
  /** Enough timed ops for a p90 with a sample above it. */
  private val MinTimedOps = 12

  /** Spans whose per-call quantities the traced run reports. */
  val Layers = Seq("pipeline.imputations", "pipeline.fichajes", "operators.upsert",
    "imputation.impute", "dedup.probe", "dedup.ingest", "dedup.cc_ingest", "dedup.compact",
    "similarity.probe", "similarity.ingest")
  /** Span quantities that read zero on every workload at these sizes. */
  private val AlwaysZero = Set("spill_bytes", "pipeline.imputations.shuffle_bytes") ++
    Seq("pipeline.imputations", "pipeline.fichajes", "imputation.impute", "dedup.probe",
      "similarity.probe").flatMap(s => Seq(s"$s.files_written", s"$s.bytes_written"))

  private final case class OpResult(i: Int, kind: String, seconds: Double, rows: Long,
      error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")

    val spark = graft.Session.local(cores, "etlbench")
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3
    val sc = spark.sparkContext
    val books = new Books
    sc.addSparkListener(books)
    val tracer = new Tracer(sc, traced)
    val files = 2 * cores
    val wl: Workload = name match {
      case "etl_imputation" => new EtlImputation(spark, tracer, seed, files)
      case "index_lifecycle" => new IndexLifecycle(spark, tracer, seed, files)
    }
    def out(s: String): Unit = println(s"[etlbench] $s")
    out(s"workload=$name seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"cores=$cores heap=${a("heap")} session_start_s=$sessionS")

    val setup0 = System.nanoTime()
    val inputs = wl.setup(s"$work/setup", new SetupStep {
      def apply[T](step: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally out(s"setup step $step ${(System.nanoTime() - t0) / 1e9} s")
      }
    })
    val setupOnceS = (System.nanoTime() - setup0) / 1e9
    inputs.foreach(in => out(s"input ${in.name} rows=${in.rows} files=${in.files} " +
      s"bytes=${in.bytes} why: ${in.why}"))
    out(s"input digest ${Gen.digest(wl.inputDirs)} (seed $seed)")

    def runOp(i: Int): OpResult = {
      val kind = wl.cycle(i % wl.cycle.size)
      val t0 = System.nanoTime()
      try {
        val rows = tracer.op(i)(wl.op(i))
        OpResult(i, kind, (System.nanoTime() - t0) / 1e9, rows, None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[etlbench] op $i ($kind) failed: $e")
          OpResult(i, kind, (System.nanoTime() - t0) / 1e9, 0L, Some(e.toString))
      }
    }
    val w0 = System.nanoTime()
    val warm = (0 until wl.warmupOps).map(runOp)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + setupOnceS + warmS
    out(s"setup_s = session start $sessionS + inputs and indexes $setupOnceS + warm-up $warmS")

    // Timed phase: closed loop, one client, the next op starts when one ends;
    // whole cycles until at least `seconds` have passed and MinTimedOps ran.
    val env = new Env
    val e0 = env.snapshot()
    val phase0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[OpResult]()
    while ((System.nanoTime() - phase0) / 1e9 < seconds || ops.size < MinTimedOps ||
        ops.size % wl.cycle.size != 0)
      ops += runOp(wl.warmupOps + ops.size)
    val e1 = env.snapshot()
    env.stop()
    val wallS = (e1("wall_ms") - e0("wall_ms")) / 1e3
    def delta(k: String) = e1(k) - e0(k)

    BenchBus.drain(sc)
    books.settle()
    // Live heap: collect, give the ContextCleaner a moment to drop the blocks
    // of the broadcasts and shuffles that collection released, collect again,
    // and read what the heap pools held right after it.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .map(_.getCollectionUsage.getUsed).sum / MB

    val timed = ops.map(_.i).toSeq
    val c0 = System.nanoTime()
    val checks = try wl.checks(timed) catch {
      case scala.util.control.NonFatal(e) => Seq(Check("output checks ran", ok = false, e.toString))
    }
    out(s"output checks took ${(System.nanoTime() - c0) / 1e9} s")
    checks.foreach(c => out(s"check ${if (c.ok) "ok" else "FAILED"}: ${c.name} (${c.detail})"))

    val good = ops.filter(_.error.isEmpty).toSeq
    val rows = good.map(_.rows).sum
    val byKind = good.groupBy(_.kind).map { case (k, xs) => k -> xs.map(_.seconds) }
    val p50 = byKind.values.map(xs => xs.size * median(xs)).sum / good.size
    val (tail, tailRank) = p90(good.map(_.seconds))
    val written = timed.map(books.op(_).bytesWritten).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", rows / wallS, "rows/s"),
      ("op_p50_s", p50, "s"),
      ("op_tail_s", tail, "s"),
      ("cpu_s_per_krow", delta("cpu_ms") / 1e3 / (rows / 1e3), "s/krow"),
      ("heap_live_mb", heapMb, "MB"),
      ("write_amp", written / wl.ingestedBytes(timed), "ratio"),
      ("space_amp", treeBytes(wl.storeDir) / wl.liveBytes, "ratio"),
      ("recall", wl.recall, "ratio"))
    val failed = (warm ++ ops).count(_.error.nonEmpty) + checks.count(!_.ok)
    val attempted = warm.size + ops.size + checks.size
    out(s"timed phase: ${ops.size} ops (${ops.size / wl.cycle.size} cycles) in $wallS s, " +
      s"${ops.count(_.error.nonEmpty)} failed; op_tail_s is p90, rank $tailRank of " +
      s"n=${good.size}; error_rate ${failed.toDouble / attempted}")
    wl.cycle.distinct.foreach { k =>
      val xs = byKind.getOrElse(k, Nil)
      out(s"op kind $k: n=${xs.size} median_s=${median(xs)} all_s=${xs.mkString(",")}")
    }
    out(s"contamination: env.steal_ms=${delta("steal_ms")} env.stall_ms=${delta("stall_ms")} " +
      s"jvm.gc_ms=${delta("gc_ms")} jvm.cpu_ms=${delta("cpu_ms")}")
    e2e.foreach { case (k, v, u) => out(s"metric $k = $v $u") }

    val metrics =
      if (!traced) e2e
      else {
        val layer = layerMetrics(tracer, books, timed.toSet, cores, wallS, ops.size,
          delta("gc_ms"), delta("cpu_ms"), delta("steal_ms"), delta("stall_ms"))
        selfTimeTable(tracer, timed.toSet, wallS).foreach(out)
        out(opSplit(tracer, books, timed.toSet, cores))
        writeTrace(Paths.get(a("trace-out"), s"$name-seed$seed.json").toString, name, seed,
          tracer, books)
        layer
      }
    out(s"report done ${(System.currentTimeMillis() - a("launched-ms").toLong) / 1e3} s after launch")
    spark.stop()
    println(Json.result(failed == 0, attempted, failed, metrics))
    System.out.flush()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The 90th percentile by nearest rank, and that rank (1-based). */
  def p90(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (Double.NaN, 0)
    else {
      val rank = math.ceil(0.9 * xs.size).toInt
      (xs.sorted.apply(rank - 1), rank)
    }

  def treeBytes(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum.toDouble
    finally s.close()
  }

  /** Per-call quantities of each layer span over the timed ops, and the
    * run-wide counters: (name, value, unit).
    */
  private def layerMetrics(tracer: Tracer, books: Books, timed: Set[Int], cores: Int,
      wallS: Double, nOps: Int, gcMs: Double, cpuMs: Double, stealMs: Double,
      stallMs: Double): Seq[(String, Double, String)] = {
    val calls = tracer.spans.filter(s => timed(s.op)).groupBy(_.name)
    val perSpan = Layers.flatMap { layer =>
      val ss = calls.getOrElse(layer, mutable.ArrayBuffer[Span]()).toSeq
      val ws = ss.map(s => books.span(s.id))
      // means, not medians: one span name can cover calls of different kinds
      // (imputation.impute on impute_mean and impute_rank)
      def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      def mean(f: Work => Long) = avg(ws.map(f(_).toDouble))
      Seq(
        ("ms", avg(ss.map(_.ms)), "ms"),
        ("jobs", mean(_.jobs), "count"),
        ("gap_ms", avg(ss.map(s => s.ms -
          Books.coveredMs(books.span(s.id).jobIntervals.toSeq, s.startMs, s.endMs))), "ms"),
        ("task_ms", mean(_.taskMs), "ms"),
        ("shuffle_bytes", mean(_.shuffleBytes), "bytes"),
        ("spill_bytes", mean(_.spillBytes), "bytes"),
        ("files_written", mean(_.filesWritten), "count"),
        ("bytes_written", mean(_.bytesWritten), "bytes")
      ).map { case (q, v, u) => (s"$layer.$q", v, u) }
    }.filterNot { case (k, _, _) => AlwaysZero(k) || AlwaysZero(k.split('.').last) }
    val opWork = timed.toSeq.map(books.op)
    val perOp = math.max(nOps, 1).toDouble
    perSpan ++ Seq(
      ("sources.bytes_read", opWork.map(_.bytesRead).sum / perOp, "bytes"),
      ("sources.files_read", opWork.map(_.filesRead).sum / perOp, "count"),
      ("spark.core_busy", opWork.map(_.taskMs).sum / (wallS * 1e3 * cores), "ratio"),
      ("jvm.gc_ms", gcMs / perOp, "ms"),
      ("jvm.cpu_ms", cpuMs / perOp, "ms"),
      ("env.steal_ms", stealMs, "ms"),
      ("env.stall_ms", stallMs, "ms"),
      ("trace.overhead_ms", (tracer.bookkeepingMs + books.listenerMs) / perOp, "ms"))
  }

  /** Where an op's wall time goes, summed over the timed ops: inside Spark
    * jobs (the union of their intervals) or in the driver gaps between them;
    * and the task time those jobs kept the cores busy with.
    */
  private def opSplit(tracer: Tracer, books: Books, timed: Set[Int], cores: Int): String = {
    val ops = tracer.spans.filter(s => s.name == "op" && timed(s.op)).toSeq
    val wallMs = ops.map(_.ms).sum
    val jobMs = ops.map(s =>
      Books.coveredMs(books.op(s.op).jobIntervals.toSeq, s.startMs, s.endMs).toDouble).sum
    val taskMs = ops.map(s => books.op(s.op).taskMs).sum.toDouble
    val jobs = ops.map(s => books.op(s.op).jobs).sum
    f"op split over ${ops.size} timed ops: wall ${wallMs / ops.size}%.0f ms/op, " +
      f"${jobs.toDouble / ops.size}%.1f jobs/op, in jobs ${jobMs / ops.size}%.0f ms/op " +
      f"(${jobMs / wallMs}%.3f of wall), gaps ${(wallMs - jobMs) / ops.size}%.0f ms/op " +
      f"(${1 - jobMs / wallMs}%.3f), task_ms ${taskMs / ops.size}%.0f /op, " +
      f"core_busy ${taskMs / (wallMs * cores)}%.3f"
  }

  /** Self time per span name over the timed ops: wall minus child spans. */
  private def selfTimeTable(tracer: Tracer, timed: Set[Int], wallS: Double): Seq[String] = {
    val ss = tracer.spans.filter(s => timed(s.op))
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val rows = ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      (n, xs.size, xs.map(_.ms).sum, xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum)
    }.sortBy(-_._4)
    f"${"layer"}%-22s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"self_share"}%10s" +:
      rows.map { case (n, c, tot, self) =>
        f"$n%-22s $c%6d $tot%10.1f $self%10.1f ${self / (wallS * 1e3)}%10.3f"
      }
  }

  private def writeTrace(path: String, workload: String, seed: Long, tracer: Tracer,
      books: Books): Unit = {
    val base = tracer.spans.headOption.fold(0L)(_.startMs)
    val spans = tracer.spans.map { s =>
      val w = books.span(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startMs - base), "end_ms" -> (s.endMs - base), "ms" -> s.ms,
        "jobs" -> w.jobs, "task_ms" -> w.taskMs, "shuffle_bytes" -> w.shuffleBytes,
        "spill_bytes" -> w.spillBytes, "bytes_written" -> w.bytesWritten,
        "files_written" -> w.filesWritten, "bytes_read" -> w.bytesRead,
        "files_read" -> w.filesRead))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.obj(Seq("workload" -> workload, "seed" -> seed,
      "spans" -> Json.Raw(spans.mkString("[\n", ",\n", "\n]")))) + "\n")
    println(s"[etlbench] trace: ${tracer.spans.size} spans written to $path")
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case other => value(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Raw(obj(metrics.map { case (k, v, u) =>
        k -> Raw(obj(Seq("value" -> v, "unit" -> u)))
      }))))
}

/** The class-loading pass the build records a class-data-sharing archive
  * from: a session and one small query of each kind the workloads run
  * (partitioned parquet write and read, join, aggregate, collect).
  */
object Train {
  def main(argv: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = graft.Session.local(2, "etlbench-train")
    spark.range(0, 10000, 1, 2)
      .select(col("id"), (col("id") % 7).cast("string").as("s"), (col("id") * 0.5).as("x"))
      .write.mode("overwrite").partitionBy("s").parquet(argv(0))
    val df = spark.read.parquet(argv(0))
    df.join(df.groupBy("s").count(), "s").agg(sum("x"), count(lit(1))).collect()
    spark.stop()
  }
}
