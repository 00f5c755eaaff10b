package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, PrintStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark operation: a CLI job or a library call.
  * `kind` is the class the metrics group by (commit, lookup, batch,
  * maint, cdf, ext); `pass` the workload cycle it ran in; `rows` the
  * logical input rows it was given.
  */
final case class OpRec(op: Int, pass: Int, kind: String, name: String, ms: Double,
                       parseMs: Double, ok: Boolean, rows: Long, error: String)

/** A phase of the run (warm-up, timed or reference): a closed loop of
  * workload cycles on the run's scratch state, one driver thread, the
  * next operation sent only when the previous one returned. */
final class Phase(val spark: SparkSession, val tr: Tracer) {
  val ops = ArrayBuffer.empty[OpRec]
  val cycleS = ArrayBuffer.empty[Double]
  /** The pass numbers of this phase's cycles, in order. */
  val passes = ArrayBuffer.empty[Int]
  /** Per-op figures a workload measures around an op, e.g. files added. */
  val extra = scala.collection.mutable.HashMap.empty[(Int, String), Double]

  private def pass: Int = passes.lastOption.getOrElse(-1)

  /** Run one CLI argument vector the way a user does: `Main.parse`,
    * then `Main.execute` with stdout captured and stdin at EOF (so
    * write jobs skip the confirm prompt and keep the progress
    * listener). Returns (op id, ok, captured stdout). */
  def cli(kind: String, name: String, args: Seq[String], rows: Long = 0L): (Int, Boolean, String) = {
    val op = Phase.newOp()
    val out = new ByteArrayOutputStream()
    var parseMs = 0.0
    var err = ""
    val t0 = System.nanoTime()
    tr.span(s"$kind/$name", op) {
      try {
        Console.withOut(new PrintStream(out, true, "UTF-8")) {
          Console.withIn(new ByteArrayInputStream(Array.emptyByteArray)) {
            val p0 = System.nanoTime()
            val (job, opts) = tr.span("cli.parse", op)(graft.cli.Main.parse(args.toArray))
            parseMs = (System.nanoTime() - p0) / 1e6
            tr.span("cli.execute", op)(graft.cli.Main.execute(spark, job, opts))
          }
        }
      } catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ops += OpRec(op, pass, kind, name, ms, parseMs, err.isEmpty, rows, err)
    (op, err.isEmpty, out.toString("UTF-8"))
  }

  /** Time a direct library call (graft.ext, graft.streaming). */
  def lib(kind: String, name: String, rows: Long = 0L)(body: => Any): Unit = {
    val op = Phase.newOp()
    var err = ""
    val t0 = System.nanoTime()
    tr.span(s"$kind/$name", op) {
      try body
      catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    ops += OpRec(op, pass, kind, name, (System.nanoTime() - t0) / 1e6, 0.0, err.isEmpty, rows, err)
  }

  /** Mark an op failed by a correctness check made after it. */
  def fail(op: Int, why: String): Unit = {
    val i = ops.indexWhere(_.op == op)
    if (i >= 0 && ops(i).ok) ops(i) = ops(i).copy(ok = false, error = why)
  }
}

object Phase {
  private var nextOp = 0
  /** Op ids are unique across the phases of a run. */
  def newOp(): Int = synchronized { val op = nextOp; nextOp += 1; op }
}

trait Workload {
  /** Write the seeded inputs under `dir`. Timed apart from `setup_s`:
    * the engine does not run here. */
  def generate(spark: SparkSession, dir: String): Unit
  /** The engine's part of set-up, e.g. seeding a table through the CLI. */
  def seed(spark: SparkSession, dir: String): Unit = ()
  /** One unit of work (a script pass or a churn round); `n` numbers the
    * run's cycles across all its phases. The warm-up passes, 0 until
    * [[Bench.WarmPasses]], run at the same time, so each must have
    * outputs or a table of its own. */
  def cycle(ph: Phase, dir: String, n: Int): Unit
  /** Correctness checks outside the timed phase; returns (name, ok). */
  def check(ph: Phase, dir: String): Seq[(String, Boolean)]
  /** Bytes the phase's results take when written once as plain parquet. */
  def writtenOnceBytes(ph: Phase, dir: String): Long
  /** Workload-specific figures for the artifact and the per-layer
    * metrics, measured by `check`. */
  def extraMetrics(ph: Phase, dir: String): Map[String, Double] = Map.empty
  /** Rows and bytes of the generated inputs in `dir`. */
  def inputs(spark: SparkSession, dir: String): Map[String, Any]
  /** Data the Python oracle checks after the JVM exits. */
  def oracleManifest(ph: Phase, dir: String): Seq[Map[String, Any]] = Nil
}

object Bench {
  def session(k: Int, work: String): SparkSession = {
    // the same settings graft.cli.Main builds its session with, so
    // every job runs on the engine a CLI user gets
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFs")
      .config(graft.sources.LocalDirs.confMap)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Op kinds that write a dataset, and kinds that only read one. */
  val WriteKinds = Set("commit", "batch", "ext")
  val ReadKinds = Set("lookup")

  /** Mean latency of the phase's ops of these kinds. Every cycle runs
    * the same list of ops, so the mix is fixed; a median would jump
    * between the fast and the slow ops of the list (lookups after a
    * `--dv` delete are about twice as slow as the rest). */
  def classMean(ph: Phase, kinds: Set[String]): Double = {
    val xs = ph.ops.filter(o => kinds(o.kind)).map(_.ms)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** The last non-empty line of captured output (a `--count` result). */
  def lastLine(out: String): String =
    out.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq.lastOption.getOrElse("")

  /** First-column values of a `Dataset.show` table in captured output. */
  def shownKeys(out: String): Seq[String] =
    out.linesIterator.filter(_.startsWith("|")).drop(1).map(_.split('|')(1).trim).toSeq

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def dirFiles(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else 1L
    walk(new File(path))
  }

  /** Rows of a parquet dataset directory, summed from its file footers
    * (no Spark job). */
  def footerRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(new File(path).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Host-noise canaries: a fixed CPU-only Spark job and a fixed JVM
    * loop, median of three each, in milliseconds. */
  def canary(spark: SparkSession, k: Int): (Double, Double) = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    val sparkMs = (1 to 3).map(_ => timed(
      spark.range(0L, 8000000L, 1L, k).selectExpr("sum(hash(id)) AS h").collect()))
    var sink = 0L
    val jvmMs = (1 to 3).map(_ => timed {
      var x = 1L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      sink ^= x
    })
    if (sink == 42L) println("") // uses the result, so the loop cannot be elided
    (median(sparkMs), median(jvmMs))
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"))
  }

  /** Warm-up passes before anything is timed. The first pass of a JVM
    * is cold; in trials of one-after-the-other passes the second still
    * ran 5-16% slower than the third on etl_batch, while the third
    * matched the passes after it. So two passes run before the first
    * timed one. */
  val WarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val wl: Workload = a.workload match {
      case "etl_batch" => new EtlBatch(a.seed)
      case "table_churn" => new TableChurn(a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def secs(t: Long) = (System.nanoTime() - t) / 1e9
    val t0 = System.nanoTime()
    val spark = session(k, a.work)
    val sessionS = secs(t0)

    // One scratch state per run. Generating the inputs is the
    // benchmark's own work and is timed apart; the rest of set-up
    // (session start, the engine seeding the state, warm-up) is setup_s.
    val dir = s"${a.work}/state"
    rmrf(new File(dir)); new File(dir).mkdirs()
    val tg = System.nanoTime()
    wl.generate(spark, dir)
    val genS = secs(tg)
    val ts = System.nanoTime()
    wl.seed(spark, dir)
    val seedS = secs(ts)

    var pass = 0
    /** Whole cycles until `seconds` have passed, at least one. */
    def phase(tracer: Tracer, seconds: Double): Phase = {
      val ph = new Phase(spark, tracer)
      val start = System.nanoTime()
      while (ph.passes.isEmpty || secs(start) < seconds) {
        ph.passes += pass
        val c0 = System.nanoTime()
        tracer.span("cycle", -1)(wl.cycle(ph, dir, pass))
        ph.cycleS += secs(c0)
        pass += 1
      }
      ph
    }
    // Warm-up is not timed, so its passes run on one thread each: the
    // JIT and Spark's code cache are shared by the whole JVM, and the
    // run needs less wall time before it measures.
    val warm: Seq[Phase] = {
      val runs = (0 until WarmPasses).map { i =>
        val ph = new Phase(spark, new Tracer(spark, on = false))
        ph.passes += pass + i
        var err: Option[Throwable] = None
        val t = new Thread(() => {
          val c0 = System.nanoTime()
          try wl.cycle(ph, dir, ph.passes.head) catch { case e: Throwable => err = Some(e) }
          ph.cycleS += secs(c0)
        })
        t.start()
        (ph, t, () => err)
      }
      pass += WarmPasses
      runs.foreach(_._2.join())
      runs.foreach(_._3().foreach(e => throw e))
      runs.map(_._1)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS

    val (canSparkBefore, canJvmBefore) = canary(spark, k)
    // A traced run brackets the traced phase with two untraced reference
    // phases, so trace.overhead_frac compares equally warm phases.
    val refBefore = if (a.trace) Some(phase(new Tracer(spark, on = false), a.seconds)) else None
    val tracer = new Tracer(spark, on = a.trace)
    val (_, w0) = FsBytes.now()
    val ph = phase(tracer, a.seconds)
    val (_, w1) = FsBytes.now()
    val bytesWritten = w1 - w0
    tracer.drain()
    tracer.stop()
    val refAfter = if (a.trace) Some(phase(new Tracer(spark, on = false), a.seconds)) else None
    val (canSparkAfter, canJvmAfter) = canary(spark, k)

    // an op that fails outside the timed phase fails the run as well
    val untimedFailed = (warm ++ refBefore ++ refAfter).flatMap(_.ops).filter(!_.ok)
    val checks = wl.check(ph, dir) ++
      untimedFailed.map(o => s"untimed ${o.kind}/${o.name}: ${o.error}" -> false)
    val onceBytes = wl.writtenOnceBytes(ph, dir)
    val oracle = wl.oracleManifest(ph, dir)
    val extra = wl.extraMetrics(ph, dir)

    val wallS = median(ph.cycleS.toSeq)
    val rows = ph.ops.map(_.rows).sum
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "rows_per_s" -> rows / ph.cycleS.sum,
      "write_ms" -> classMean(ph, WriteKinds),
      "read_ms" -> classMean(ph, ReadKinds))
    def classPct(kinds: Set[String], p: Double) =
      pct(ph.ops.filter(o => kinds(o.kind)).map(_.ms).toSeq, p)
    val figures = extra ++ Map(
      "write_p50_ms" -> classPct(WriteKinds, 0.5), "write_p90_ms" -> classPct(WriteKinds, 0.9),
      "read_p50_ms" -> classPct(ReadKinds, 0.5), "read_p90_ms" -> classPct(ReadKinds, 0.9),
      "host.peak_rss_mb" -> vmHwmMb(),
      "operators.write_amp" -> bytesWritten.toDouble / math.max(1L, onceBytes))
    val refWallS = for (r0 <- refBefore; r1 <- refAfter)
      yield (median(r0.cycleS.toSeq) + median(r1.cycleS.toSeq)) / 2
    val layers =
      if (a.trace) Layers.metrics(ph, tracer, k, wallS, refWallS)
      else Map.empty[String, Double]
    val self = tracer.selfMs
    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "e2e" -> e2e,
      "figures" -> figures,
      "layers" -> (layers ++ figures ++ Map(
        "host.canary_before_ms" -> canSparkBefore, "host.canary_after_ms" -> canSparkAfter,
        "host.jvm_canary_before_ms" -> canJvmBefore, "host.jvm_canary_after_ms" -> canJvmAfter)),
      "attempted" -> (ph.ops.size + checks.size),
      "failed" -> (ph.ops.count(!_.ok) + checks.count(!_._2)),
      "op_errors" -> ph.ops.filter(!_.ok).take(20).map(o => s"${o.kind}/${o.name}: ${o.error}"),
      "checks" -> checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "oracle" -> oracle,
      "samples" -> Map("ops" -> ph.ops.size, "cycles" -> ph.cycleS.size,
        "writes" -> ph.ops.count(o => WriteKinds(o.kind)),
        "reads" -> ph.ops.count(o => ReadKinds(o.kind))),
      "env" -> Map("k" -> k, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
        "spark_local_dir" -> spark.conf.getOption("spark.local.dir").getOrElse(""),
        "localdirs_moved_to_shm" ->
          spark.conf.getOption("spark.local.dir").exists(_.startsWith("/dev/shm")),
        "inputs" -> wl.inputs(spark, dir),
        "session_s" -> sessionS, "gen_s" -> genS, "seed_s" -> seedS,
        "warm_cycle_s" -> warm.flatMap(_.cycleS), "cycle_s_each" -> ph.cycleS.toSeq,
        "passes" -> ph.passes.toSeq,
        "ref_cycle_s" -> (refBefore.toSeq ++ refAfter.toSeq).map(_.cycleS.toSeq)),
      "ops" -> ph.ops.map(o => Map("op" -> o.op, "pass" -> o.pass, "kind" -> o.kind,
        "name" -> o.name, "ms" -> o.ms, "parse_ms" -> o.parseMs, "ok" -> o.ok, "rows" -> o.rows)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "ms" -> s.ms, "self_ms" -> self(s.id),
        "fs_read" -> s.fsRead, "fs_written" -> s.fsWritten)))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.write(Json.render(result)) finally w.close()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
