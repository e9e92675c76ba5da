package perfbench

import org.apache.spark.sql.functions._

import graft.driver.Orchestrator
import graft.functions.{MarginIndex, VecIndex}
import graft.sink.TxTable
import graft.state.LogStore

/** `semantic_tick`: indexes built from a 2,000-vector base corpus, then
  * one `Orchestrator.semanticTick` per op with a fixed-size batch of
  * ScaleGen-organic replicas (ids offset by replica × 10^6, vectors
  * circularly shifted by the replica index), so the corpus grows tick by
  * tick towards 10×. Each batch also carries planted exact twins of
  * admitted vectors.
  *
  * The base vectors are 32 clusters with per-dimension noise such that
  * two members of one cluster sit near cosine 0.5: far below the 0.95
  * threshold, so the oracle knows every verdict — twins dropped, every
  * other row kept.
  */
object Semantic {
  val Dim = 64
  val BaseN = 2000
  val Batch = 450
  val Twins = 10
  private val SetupReps = 1
  /** Ticks per run, as in [[Ingest]]: fixed, cut short only by `--seconds`. */
  private val RunTicks = 8
  private val TracedTicks = 3

  private def baseVectors(seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed * 31L + 5L)
    val centers = Array.fill(32) {
      val c = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    Array.tabulate(BaseN) { _ =>
      val c = centers(rnd.nextInt(centers.length))
      c.map(x => (x + rnd.nextGaussian() / 8.0).toFloat)
    }
  }

  private def rotate(v: Array[Float], r: Int): Array[Float] = {
    val s = r % Dim
    v.drop(s) ++ v.take(s)
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    import spark.implicits._
    val base = baseVectors(ctx.seed)
    val corpusPath = s"${ctx.work}/src/corpus"
    base.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    ctx.phase("generate")

    def roots(r: Int) = { val d = s"${ctx.work}/sem$r"; (d, s"$d/vec", s"$d/margin", s"$d/verdicts", s"$d/log") }
    val setups = (1 to SetupReps).map { r =>
      val (d, vec, margin, _, _) = roots(r)
      val (_, s) = Main.time {
        VecIndex.build(spark, corpus, vec, iters = 0)
        if (ctx.traced) MarginIndex.build(spark, corpus, margin, iters = 0)
      }
      if (r < SetupReps) Ingest.deleteDir(d)
      s
    }
    val (dir, vec, margin, verdicts, logDir) = roots(SetupReps)
    ctx.phase("set-up")
    val store = new LogStore(spark, logDir)
    val orch = new Orchestrator(spark, dir, store, parallelism = ctx.cores)

    // admitted vectors the twins copy from (index into base × replica)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] ++= (0 until BaseN).map((_, 0))
    val rnd = new scala.util.Random(ctx.seed * 131L + 3L)
    def bytes = Seq(vec, verdicts, logDir).map(Main.dirBytes).sum
    val ops = scala.collection.mutable.ArrayBuffer.empty[Double]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    var written, srcBytes, judged, kept, filesAdded = 0L
    val marginS, units = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val (cap, budget) = if (ctx.traced) (TracedTicks, Double.MaxValue) else (RunTicks, ctx.seconds)
    var heap = 0.0
    ctx.spans.clear()
    var tick = 1
    while (Main.fits(budget, ops) && ops.size < cap) {
      val first = (tick - 1) * Batch
      val rows = (first until first + Batch).map { g =>
        val rep = 1 + g / BaseN; val j = g % BaseN
        (j, rep)
      }
      val twins = Seq.fill(Twins)(admitted(rnd.nextInt(admitted.size)))
      val batchRows =
        rows.map { case (j, rep) => (j.toLong + rep * 1000000L, rotate(base(j), rep)) } ++
          twins.zipWithIndex.map { case ((j, rep), i) =>
            (900000000L + tick * 10000L + i, rotate(base(j), rep)) }
      val batchPath = s"${ctx.work}/src/batch/$tick"
      batchRows.toDF("vec_id", "embedding").coalesce(1).write.parquet(batchPath)
      srcBytes += Main.dirBytes(batchPath)
      val before = bytes
      val files0 = if (ctx.traced) Main.dirFiles(dir, _.getName.endsWith(".parquet")) else 0
      ctx.spans.op = ops.size
      val w0 = System.currentTimeMillis()
      val (rep, s) = Main.time(scala.util.Try(ctx.spans("driver", "Orchestrator.semanticTick") {
        orch.semanticTick(spark.read.parquet(batchPath), vec, verdicts, tick.toLong, logId = 1L)
      }))
      windows += ((w0, System.currentTimeMillis()))
      ops += s
      rep match {
        case scala.util.Success(r) =>
          val ok = r.landed && r.validated && r.verdictLanded &&
            r.batchRows == batchRows.size && r.dropped == Twins
          if (!ok) errs += s"tick $tick: $r (expected ${batchRows.size} rows, $Twins dropped)"
          judged += r.batchRows; kept += r.kept; units += r.batchRows.toDouble
        case scala.util.Failure(e) => failed += 1; ctx.note(s"tick $tick failed: $e")
      }
      written += bytes - before
      if (ctx.traced) {
        filesAdded += Main.dirFiles(dir, _.getName.endsWith(".parquet")) - files0
        // the margin leg `semanticTick` runs with `marginTable`: the
        // oracle's survivors (every row but the twins) admitted on the
        // tick's own key, timed outside the op
        val survivors = batchRows.take(rows.size).toDF("vec_id", "embedding")
        val (_, ms) = Main.time(ctx.spans("functions", "MarginIndex.appendOnce") {
          MarginIndex.appendOnce(spark, survivors, margin, "semantic-tick-margin", tick.toLong)
        })
        marginS += ms
      }
      admitted ++= rows
      heap = math.max(heap, Main.heapAfterGcMb())
      tick += 1
    }
    ctx.phase("ticks")
    val vecRows = TxTable.read(spark, vec).count()
    val verdictRows = TxTable.read(spark, verdicts).count()
    if (vecRows != BaseN + judged) errs += s"vec index rows $vecRows, oracle ${BaseN + judged}"
    if (verdictRows != judged) errs += s"verdict rows $verdictRows, oracle $judged"
    if (ctx.traced) {
      val marginRows = TxTable.read(spark, margin).filter(col("cn").isNotNull).count()
      if (marginRows != BaseN + kept) errs += s"margin rows $marginRows, oracle ${BaseN + kept}"
    }
    errs.foreach(e => ctx.note(s"oracle: $e"))
    ctx.note(f"ticks=${ops.size} corpus=${(BaseN + judged).toDouble / BaseN}%.2fx of base " +
      s"batch=${Batch + Twins} twins=$Twins")
    ctx.phase("oracle")
    val tables = Seq(vec, verdicts)
    val n = math.max(1, ops.size).toDouble
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else Map(
        "state.log_files" -> Main.logFiles(logDir).toDouble,
        "sink.files_added" -> filesAdded / n,
        "sink.bytes_added" -> written / n,
        "sink.live_files" -> tables.map(t => TxTable.currentFiles(spark, t).size).sum.toDouble,
        "sink.txn_entries" -> tables.map(t => Main.dirFiles(s"$t/_graft_txn",
          f => !f.getName.endsWith(".crc"))).sum.toDouble,
        "functions.margin_admission_s" -> Main.median(marginS.toList))
    Outcome(errs.isEmpty, ops.size, failed, Main.median(setups), ops.toList, units.toList,
      written.toDouble, srcBytes.toDouble, heap, layer, windows.toList, ops.size)
  }
}
