package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget,
  * and (traced pass only) the span recorder and the layer listener.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val spans: Spans, val listener: Option[LayerListener],
                val cores: Int) {
  val traced: Boolean = spans.on
  private val notesB = scala.collection.mutable.ArrayBuffer.empty[String]
  def note(s: String): Unit = notesB.synchronized(notesB += s)
  def notes: Seq[String] = notesB.synchronized(notesB.toList)
  private var mark = System.nanoTime()
  /** Notes the wall seconds since the previous phase mark. */
  def phase(name: String): Unit = {
    val now = System.nanoTime(); note(f"phase $name ${(now - mark) / 1e9}%.1f s"); mark = now
  }
}

/** A finished workload: the oracle verdict, op counts, the timed ops'
  * latencies, the rows each op committed (vectors it judged) and the
  * workload-specific sums the metrics divide.
  */
final case class Outcome(
    correct: Boolean, attempted: Int, failed: Int,
    setupS: Double, opSeconds: Seq[Double], opUnits: Seq[Double],
    writtenBytes: Double, sourceBytes: Double, heapPeakMb: Double,
    layer: Map[String, Double], opWindows: Seq[(Long, Long)], specRuns: Int,
    readWindows: Seq[(Long, Long)] = Nil)

object Main {
  val Workloads = Seq("ingest_sf001", "semantic_tick")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload) || workload == "selftest",
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")}, selftest)")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.callstack.depth", "400")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, work, seed, seconds, new Spans(traced), listener, cores)
    val exit =
      try {
        if (workload == "selftest") { if (Ingest.selfTest(ctx)) 0 else 1 }
        else {
          val out = workload match {
            case "ingest_sf001" => Ingest.ingest(ctx)
            case "semantic_tick" => Semantic.run(ctx)
          }
          report(ctx, workload, out.copy(setupS = out.setupS + sessionS))
          if (out.correct && out.failed == 0) 0 else 1
        }
      } catch {
        case e: Throwable => e.printStackTrace(); 2
      } finally spark.stop()
    // exit explicitly: a failed workload may leave its worker pools alive
    sys.exit(exit)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples). With 10 or fewer samples, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private def report(ctx: Ctx, workload: String, o: Outcome): Unit = {
    val ops = o.opSeconds
    val q = math.max(2, ops.size / 4)
    val (tailV, tailP, n) = if (ops.isEmpty) (Double.NaN, 0.0, 0) else tail(ops)
    val e2e = Seq(
      ("setup_s", o.setupS, "s"),
      ("op_p50_s", median(ops), "s"),
      ("rows_per_s", o.opUnits.sum / ops.sum, "1/s"),
      ("write_amp", o.writtenBytes / o.sourceBytes, "ratio"),
      ("heap_peak_mb", o.heapPeakMb, "MB"))
    val metrics =
      if (ctx.traced) LayerReport(ctx, o).map { case (k, v) => (k, v, PerLayer.unit(k)) }
      else e2e
    ctx.notes.foreach(s => println(s"[perfbench] $s"))
    println(s"[perfbench] op_s=${ops.map(x => f"$x%.3f").mkString(",")}")
    // reported, not gated: too few ops per run to hold them inside a bound
    println(f"[perfbench] workload=$workload seed=${ctx.seed} traced=${ctx.traced} ops=$n " +
      f"op_p50_s=${median(ops)}%.6f op_tail_s=$tailV%.6f (p$tailP%.1f of $n) " +
      f"op_growth=${median(ops.takeRight(q)) / median(ops.take(q))}%.4f " +
      f"failed=${o.failed}/${o.attempted} " +
      f"failed_ratio=${o.failed.toDouble / math.max(1, o.attempted)}%.4f correct=${o.correct}")
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** Heap the driver retains after an op, in MB: a full collection
    * between ops (outside the timed section), then the heap pools' use.
    */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Whether another op fits the budget: the op time measured so far
    * plus the last op's duration stays within `budget` seconds.
    */
  def fits(budget: Double, ops: Iterable[Double]): Boolean =
    ops.sum + ops.lastOption.getOrElse(0.0) <= budget

  /** Bytes of the regular files under `dir`, Hadoop checksum files excluded. */
  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L else f.length
    walk(new File(dir))
  }
  def dirFiles(dir: String, keep: File => Boolean): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (keep(f)) 1 else 0
    walk(new File(dir))
  }
  /** Visible run-log part files (appends and compaction outputs). */
  def logFiles(dir: String): Int =
    dirFiles(dir, f => f.getName.endsWith(".parquet") && !f.getPath.contains(".stage-"))
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}
