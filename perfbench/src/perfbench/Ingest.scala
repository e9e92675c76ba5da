package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.driver.{IngestionRun, Orchestrator}
import graft.model.{IngestionSpec, PartitionSpec, RunStatus}
import graft.sink.TxTable
import graft.state.LogStore

/** The embedded Derby table read through `Incremental.readJdbc` — the
  * in-repo MySQL stand-in. Updated in place, so the oracle's source is
  * the table's current rows.
  */
final class JdbcTable(seed: Long, val baseRows: Int, name: String) {
  val url = s"jdbc:derby:memory:$name;create=true"
  val driver = "org.apache.derby.jdbc.EmbeddedDriver"
  val rows = new SrcRows(inPlace = true)
  val pkExpr = "pk"
  private var nextPk = baseRows + 1L
  private var nextVer = baseRows + 1L
  private var prevMaxVer = baseRows.toLong
  private lazy val conn = { Class.forName(driver); java.sql.DriverManager.getConnection(url) }

  private def payload(pk: Long, ver: Long): (String, Double) = {
    val x = Gen.h(seed, 99L, pk, ver)
    (Seq("NEW", "PAID", "SHIPPED", "RETURNED")(Math.floorMod(x, 4L).toInt),
      Math.floorMod(x >>> 8, 10000000L) / 100.0)
  }

  def init(): Unit = {
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE APP.SRC_ACCOUNTS (PK BIGINT PRIMARY KEY, ROW_VER BIGINT, " +
      "BUCKET BIGINT, STATUS VARCHAR(16), AMOUNT DOUBLE)")
    st.close()
    val ps = conn.prepareStatement("INSERT INTO APP.SRC_ACCOUNTS VALUES (?, ?, ?, ?, ?)")
    for (pk <- 1L to baseRows) { bind(ps, pk, pk); ps.addBatch(); rows.add(pk, 0L, 0L, Gen.Null, pk) }
    ps.executeBatch(); ps.close()
  }

  private def bind(ps: java.sql.PreparedStatement, pk: Long, ver: Long): Unit = {
    val (s, a) = payload(pk, ver)
    ps.setLong(1, pk); ps.setLong(2, ver); ps.setLong(3, Math.floorMod(pk, 16L))
    ps.setString(4, s); ps.setDouble(5, a)
  }

  /** Inserts and updates (`frac` of the base each) plus `late` inserts
    * carrying the previous delta's maximum version. Returns the changed
    * rows as (pk, ver, bucket, status, amount) for the byte mirror.
    */
  def genDelta(k: Int, frac: Double, late: Int): Seq[(Long, Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(Gen.h(seed, 98L, k.toLong, 7L))
    val n = math.max(1, (baseRows * frac).toInt)
    val ins = conn.prepareStatement("INSERT INTO APP.SRC_ACCOUNTS VALUES (?, ?, ?, ?, ?)")
    val upd = conn.prepareStatement(
      "UPDATE APP.SRC_ACCOUNTS SET ROW_VER = ?, STATUS = ?, AMOUNT = ? WHERE PK = ?")
    val out = Seq.newBuilder[(Long, Long, Long, String, Double)]
    def record(pk: Long, ver: Long): Unit = {
      val (s, a) = payload(pk, ver)
      rows.add(pk, 0L, 0L, Gen.Null, ver); out += ((pk, ver, Math.floorMod(pk, 16L), s, a))
    }
    def insert(pk: Long, ver: Long): Unit = { bind(ins, pk, ver); ins.addBatch(); record(pk, ver) }
    for (_ <- 0 until late) { insert(nextPk, prevMaxVer); nextPk += 1 }
    for (_ <- 0 until n) { insert(nextPk, nextVer); nextPk += 1; nextVer += 1 }
    val picked = scala.collection.mutable.HashSet.empty[Long]
    while (picked.size < n) picked += 1L + (rnd.nextDouble() * (nextPk - 1)).toLong
    for (pk <- picked.toSeq.sorted) {
      val (s, a) = payload(pk, nextVer)
      upd.setLong(1, nextVer); upd.setString(2, s); upd.setDouble(3, a); upd.setLong(4, pk)
      upd.addBatch(); record(pk, nextVer); nextVer += 1
    }
    ins.executeBatch(); upd.executeBatch(); ins.close(); upd.close()
    prevMaxVer = nextVer - 1
    out.result()
  }

  def source(spark: SparkSession, parts: Int): DataFrame =
    graft.sources.Incremental.readJdbc(spark, graft.sources.Incremental.jdbcOptions(
      url, "APP", "SRC_ACCOUNTS", Nil, "1=1", "ROW_VER", "1", (nextVer - 1).toString,
      numPartitions = parts) + ("driver" -> driver))

  def close(): Unit = Try(conn.close())
}

/** One benchmark spec: the engine's [[IngestionSpec]] plus what the
  * oracle needs — its source, watermark kind and lake mode.
  */
final case class BSpec(spec: IngestionSpec, source: String, kind: String, tx: Boolean)

/** A lake under construction: generated sources, the specs over them,
  * the engine objects that ingest them and the oracle's model of each.
  */
final class Lake(ctx: Ctx, val root: String, sources: Lake.Sources, val specs: Seq[BSpec]) {
  import ctx.spark
  val store = new LogStore(spark, s"$root/log")
  private val orch = new Orchestrator(spark, s"$root/lake", store, parallelism = ctx.cores)
  private val txRun = new IngestionRun(spark, s"$root/lake", store,
    inclusiveBump = false, txLake = true)
  val sims: Map[Long, SpecSim] = specs.map(b =>
    b.spec.lakeIngestionId -> new SpecSim(b.kind, bump = !b.tx, sources.rowsOf(b.source))).toMap
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(1 + specs.count(_.tx))
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def path(b: BSpec): String = s"$root/lake/${b.spec.databasename}/${b.spec.tablename}"
  def read(b: BSpec): DataFrame =
    if (b.tx) TxTable.read(spark, path(b)) else spark.read.parquet(path(b))
  def bytes: Long = Main.dirBytes(s"$root/lake") + Main.dirBytes(s"$root/log")

  /** One tick over every spec: the plain half through
    * `Orchestrator.runAll`, the txLake half through `IngestionRun.run`,
    * both halves concurrently. Returns the specs that did not succeed.
    */
  def tick(): Seq[String] = ctx.spans("driver", "tick") {
    val parent = ctx.spans.here
    def sourceFor(s: IngestionSpec): DataFrame = ctx.spans.under(parent) {
      val b = specs.find(_.spec.lakeIngestionId == s.lakeIngestionId).get
      if (b.source == "jdbc") ctx.spans("sources", "Incremental.readJdbc")(sources.jdbc.source(spark, ctx.cores))
      else spark.read.parquet(sources.dir(b.source))
    }
    val plain = specs.filterNot(_.tx).map(_.spec)
    val fPlain = Future(ctx.spans.under(parent) {
      ctx.spans("driver", "Orchestrator.runAll")(Try(orch.runAll(plain, sourceFor)))
    })
    val fTx = specs.filter(_.tx).map { b =>
      Future(ctx.spans.under(parent) {
        ctx.spans("driver", "IngestionRun.run") {
          b.spec.lakeIngestionId -> Try(txRun.run(b.spec, sourceFor(b.spec)).last.executionStatus)
        }
      })
    }
    val plainOut = Await.result(fPlain, Duration.Inf)
    val statuses: Map[Long, String] =
      plainOut.getOrElse(plain.map(_.lakeIngestionId -> s"exception: ${plainOut.failed.get}").toMap) ++
        Await.result(Future.sequence(fTx), Duration.Inf).map { case (id, t) =>
          id -> t.fold(e => s"exception: $e", identity) }
    specs.flatMap { b =>
      val st = statuses.getOrElse(b.spec.lakeIngestionId, "missing")
      if (st == RunStatus.Success) None else Some(s"${b.spec.tablename}: $st")
    }
  }

  /** The oracle's run of the same tick; returns the rows it lands. */
  def simTick(): Long = sims.values.map(_.tick()).sum

  /** Timed watermark recovery and commit-log planning per spec, the same
    * calls `IngestionRun` makes (traced pass only).
    */
  def probeState(acc: Lake.Probe): Unit = for (b <- specs) {
    val id = b.spec.lakeIngestionId
    val (rows, s1) = Main.time(ctx.spans("state", "LogStore.recover") {
      val prior = store.forIngestionRows(id)
      LogStore.nextStartValue(prior, b.spec.dateNotAvailable == 1, inclusiveBump = !b.tx)
      prior.size
    })
    acc.recoverS += s1; acc.recoveries += 1
    acc.logRowsRead += store.readRows().size; acc.logRowsUsed += math.max(1, rows)
    if (b.tx) {
      val (_, s2) = Main.time(ctx.spans("sink", "TxTable.currentFiles")(TxTable.currentFiles(spark, path(b))))
      acc.planS += s2; acc.plans += 1
    }
  }

  /** The read side of each txLake table after a tick, each read checked
    * against the oracle: a latest-row lookup (`LatestRowView` over
    * `TxTable.read`), the change-feed refresh of a per-bucket aggregate
    * from the previous version (`IncrementalView.refresh`), a
    * watermark-range scan (`TxTable.readPruned`) and a time-travel count
    * (`TxTable.readAt`).
    */
  def probeReads(acc: Lake.Probe, rnd: scala.util.Random): Unit = for (b <- specs if b.tx) {
    import spark.implicits._
    val p = path(b); val sim = sims(b.spec.lakeIngestionId)
    val dv = Oracle.dvExpr(b.kind); val pkE = sources.pkExpr(b.source)
    val head = sim.runs.size.toLong
    val live = TxTable.currentFiles(spark, p).size
    def read[T](layer: String, name: String, files: Int)(body: => (Boolean, String, Long)): Double = {
      val w0 = System.currentTimeMillis()
      val ((ok, what, n), s) = Main.time(ctx.spans(layer, name)(body))
      acc.readWindows += ((w0, System.currentTimeMillis()))
      acc.queries += 1; acc.filesRead += files; acc.liveFiles += live; acc.returned += n
      if (!ok) acc.errors += what
      s
    }
    val keys = Seq.fill(5)(sim.lpk(rnd.nextInt(sim.lpk.size))).distinct
    acc.viewS += read("operators", "LatestRowView.latestPerKey", live) {
      val got = graft.operators.LatestRowView.latestPerKey(TxTable.read(spark, p),
          sources.keyCols(b.source), Seq(expr(b.spec.deltaExpr)))
        .filter(expr(pkE).isin(keys: _*)).select(expr(pkE).cast("long"), expr(dv).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = keys.flatMap(k => sim.latest(k).map(k -> _)).toMap
      (got == want, s"${b.spec.tablename} latest-row lookup $got, oracle $want", got.size.toLong)
    }
    val (added, removed) = TxTable.changedFiles(spark, p, head - 1, head)
    val derived = sim.buckets(head - 1).toDF("bucket", "n_rows", "row_ver")
    acc.ivmS += read("operators", "IncrementalView.refresh", added.size + removed.size) {
      val got = graft.operators.IncrementalView.refresh(spark, p, derived, head - 1, head,
          Seq("bucket"), Seq("row_ver")).select("bucket", "n_rows", "row_ver")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      (got == sim.buckets(head), s"${b.spec.tablename} refresh v${head - 1}->v$head", got.size.toLong)
    }
    if (b.kind != "coal") { // a coalesce watermark has no single column to prune on
      val (lo, hi) = (sim.runs(sim.runs.size - 2)._1, sim.runs.last._1)
      val (l, h) = (Oracle.fmtEnd(b.kind, lo), Oracle.fmtEnd(b.kind, hi))
      val pruned = TxTable.prunedFiles(spark, p, b.spec.deltaField, Some(l), Some(h)).size
      read("sink", "TxTable.readPruned", pruned) {
        val n = TxTable.readPruned(spark, p, b.spec.deltaField, Some(l), Some(h))
          .filter(expr(dv).between(lo, hi)).count()
        (n == sim.countIn(lo, hi), s"${b.spec.tablename} range [$l, $h] $n rows, oracle ${sim.countIn(lo, hi)}", n)
      }
    }
    read("sink", "TxTable.readAt", TxTable.filesAt(spark, p, head - 1).size) {
      val n = TxTable.readAt(spark, p, head - 1).count()
      (n == sim.rows(head - 1), s"${b.spec.tablename} v${head - 1} $n rows, oracle ${sim.rows(head - 1)}", n)
    }
  }

  /** Lake contents and run log against the oracle; the mismatches. */
  def check(): Seq[String] = specs.flatMap { b =>
    val sim = sims(b.spec.lakeIngestionId)
    val name = b.spec.tablename
    val got = Oracle.fingerprint(read(b), sources.pkExpr(b.source), b.kind)
    val want = (sim.rows(), sim.hashSum)
    val lakeErr = if (got == want) Nil else Seq(s"$name: lake (rows, hash) $got, oracle $want")
    val logged = store.forIngestionRows(b.spec.lakeIngestionId)
      .filter(_.executionStatus == RunStatus.Success).map(r => (r.endValue, r.sourceCount)).sorted
    val expected = sim.runs.map { case (e, n) => (Oracle.fmtEnd(b.kind, e), n) }.sorted
    val logErr = if (logged == expected) Nil
      else Seq(s"$name: run log success (end, rows) ${logged.takeRight(3)} (${logged.size}), " +
        s"oracle ${expected.takeRight(3)} (${expected.size})")
    lakeErr ++ logErr
  }

  def close(): Unit = pool.shutdown()
}

object Lake {
  /** What the traced pass measures after each tick, outside the op. */
  final class Probe {
    var recoverS, planS = 0.0; var recoveries, plans = 0
    var logRowsRead, logRowsUsed = 0L
    val viewS, ivmS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var queries, filesRead, liveFiles, returned = 0L
    val readWindows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  }

  /** The generated sources: `events`, `orders`, `lineitem` (sf0.1 row
    * counts times `scale`)
    * as one-file parquet tables (plus one appended file per tick) and
    * the Derby table.
    */
  final class Sources(ctx: Ctx, scale: Double) {
    import ctx.spark
    private val base = Seq("events" -> 100000, "orders" -> 150000, "lineitem" -> 600000)
    val tables: Map[String, SourceTable] = base.zipWithIndex.map { case ((n, rows), i) =>
      n -> new SourceTable(n, i + 1L, math.max(100, (rows * scale).toInt), ctx.seed,
        new SrcRows(inPlace = false))
    }.toMap
    val jdbc = new JdbcTable(ctx.seed, math.max(100, (20000 * scale).toInt),
      s"perfbench_${ctx.seed}_${System.nanoTime()}")
    def dir(t: String): String = s"${ctx.work}/src/$t"
    def rowsOf(t: String): SrcRows = if (t == "jdbc") jdbc.rows else tables(t).rows
    def pkExpr(t: String): String = if (t == "jdbc") jdbc.pkExpr else tables(t).pkExpr
    def keyCols(t: String): Seq[String] = if (t == "jdbc") Seq("PK") else tables(t).keyCols

    def init(): Unit = {
      System.setProperty("derby.stream.error.file", s"${ctx.work}/derby.log")
      for ((n, t) <- tables) t.genBase(spark).coalesce(1).write.parquet(dir(n))
      jdbc.init()
    }

    /** Tick k's changes to the sources in `used`; returns the delta bytes
      * per source (the parquet files appended; the Derby delta is
      * mirrored to parquet only to be measured).
      */
    def mutate(k: Int, frac: Double, used: Set[String]): Map[String, Long] =
      used.toSeq.map { t =>
        val target = if (t == "jdbc") s"${ctx.work}/src/jdbc_mirror/$k" else dir(t)
        val before = Main.dirBytes(target)
        val df =
          if (t == "jdbc") {
            import spark.implicits._
            jdbc.genDelta(k, frac, late = math.max(1, jdbc.baseRows / 2000))
              .toDF("PK", "ROW_VER", "BUCKET", "STATUS", "AMOUNT")
          } else {
            val st = tables(t)
            st.deltaFrame(spark, st.genDelta(k, frac, late = math.max(1, st.baseRows / 2000)))
          }
        df.coalesce(1).write.mode("append").parquet(target)
        t -> (Main.dirBytes(target) - before)
      }.toMap
  }

  /** Four specs: datetime, integer and coalesce watermarks; YYYYMMDD,
    * YYYYMM, 1M-range and no partitioning; half plain, half txLake.
    */
  def specs(src: Sources): Seq[BSpec] = {
    def ps(col: String, fmt: String) = Seq(PartitionSpec(1,
      if (fmt.endsWith("M") && !fmt.startsWith("Y")) PartitionSpec.NonTimeBased else PartitionSpec.TimeBased,
      col, fmt))
    def mk(id: Long, name: String, source: String, kind: String, tx: Boolean,
           parts: Seq[PartitionSpec]): BSpec = {
      val up = source == "jdbc"
      def c(s: String) = if (up) s.toUpperCase else s
      val (field, exprS, dna) = kind match {
        case "dt" => (c("updated_at"), "", 0)
        case "int" => (c("row_ver"), "", 1)
        case _ => (c("modified_at"), "coalesce(modified_at, created_at)", 0)
      }
      BSpec(IngestionSpec(id, "table", "bench", "lake", name, field, exprS, dna, 1, "s3", "",
        src.keyCols(source).mkString(","), "lv", s"${name}_lv", 0, parts, "g"), source, kind, tx)
    }
    Seq(
      mk(1, "events_dt", "events", "dt", tx = false, ps("updated_at", "YYYYMMDD")),
      mk(2, "accounts_int", "jdbc", "int", tx = false, Nil),
      mk(3, "orders_coal", "orders", "coal", tx = true, ps("o_orderkey", "1M")),
      mk(4, "lineitem_dt", "lineitem", "dt", tx = true, ps("l_shipdate", "YYYYMM")))
  }
}

object Ingest {
  private val DeltaFrac = 0.005 // inserts and updates each: ~1% of a table per tick
  /** sf0.01 row counts: events 10k, orders 15k, lineitem 60k, Derby 2k. */
  private val Scale = 0.1
  private val SetupReps = 1
  /** Ticks per run: a fixed count (the run stops earlier only when the
    * next tick would not fit `--seconds`), so every seed measures the
    * same tick sequence; the traced pass runs fewer, uncapped by time.
    */
  private val RunTicks = 6
  private val TracedTicks = 2

  /** Builds the lake `reps` times from the same base sources (fresh
    * roots, first-time ingestion timed) and keeps the last one.
    */
  private def setup(ctx: Ctx, src: Lake.Sources, specs: Seq[BSpec], reps: Int): (Lake, Double) = {
    val runs = (1 to reps).map { r =>
      val lake = new Lake(ctx, s"${ctx.work}/r$r", src, specs)
      val (failed, s) = Main.time(lake.tick())
      require(failed.isEmpty, s"first-time ingestion failed: ${failed.mkString("; ")}")
      lake.simTick()
      if (r < reps) { lake.close(); deleteDir(s"${ctx.work}/r$r") }
      (lake, s)
    }
    (runs.last._1, Main.median(runs.map(_._2)))
  }

  def deleteDir(d: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(d))
  }

  final case class Ticks(opSeconds: Seq[Double], windows: Seq[(Long, Long)], rows: Seq[Double],
                         written: Long, sourceBytes: Long, failed: Int, probe: Lake.Probe,
                         filesAdded: Long, bytesAdded: Long, heapMb: Double)

  /** Closed loop, one client: mutate the sources (untimed), run one tick
    * (timed), run the oracle's tick (untimed), until `seconds` or `cap`.
    */
  private def loop(ctx: Ctx, src: Lake.Sources, lake: Lake, firstTick: Int,
                   seconds: Double, cap: Int): Ticks = {
    val used = lake.specs.map(_.source).toSet
    val perSource = lake.specs.groupBy(_.source).map { case (s, bs) => s -> bs.size }
    val ops = scala.collection.mutable.ArrayBuffer.empty[Double]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val units = scala.collection.mutable.ArrayBuffer.empty[Double]
    var written, srcBytes, filesAdded, bytesAdded = 0L
    var failed = 0
    var heap = 0.0
    val probe = new Lake.Probe
    val rnd = new scala.util.Random(ctx.seed * 7919L + firstTick)
    var k = firstTick
    def dataFiles = Main.dirFiles(s"${ctx.work}", f =>
      f.getPath.contains("/lake/") && f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_txn"))
    while (Main.fits(seconds, ops) && ops.size < cap) {
      val delta = src.mutate(k, DeltaFrac, used)
      srcBytes += delta.map { case (s, b) => b * perSource(s) }.sum
      val before = lake.bytes
      val files0 = if (ctx.traced) dataFiles else 0
      ctx.spans.op = ops.size
      val w0 = System.currentTimeMillis()
      val (bad, s) = Main.time(Try(lake.tick()))
      windows += ((w0, System.currentTimeMillis()))
      ops += s
      val ok = bad.toOption.exists(_.isEmpty)
      if (!ok) { failed += 1; ctx.note(s"tick $k failed: ${bad.fold(_.toString, _.mkString("; "))}") }
      val grown = lake.bytes - before
      written += grown
      units += lake.simTick().toDouble
      heap = math.max(heap, Main.heapAfterGcMb())
      if (ctx.traced) {
        filesAdded += dataFiles - files0; bytesAdded += grown
        lake.probeState(probe); lake.probeReads(probe, rnd)
      }
      k += 1
    }
    Ticks(ops.toList, windows.toList, units.toList, written, srcBytes, failed, probe, filesAdded,
      bytesAdded, heap)
  }

  private def stateLayer(ctx: Ctx, lake: Lake, t: Ticks): Map[String, Double] = {
    val n = math.max(1, t.opSeconds.size).toDouble
    val txDirs = lake.specs.filter(_.tx).map(lake.path)
    Map(
      "state.recover_s" -> t.probe.recoverS / math.max(1, t.probe.recoveries),
      "state.log_files" -> Main.logFiles(s"${lake.root}/log").toDouble,
      "state.log_rows_per_recovery" -> t.probe.logRowsRead.toDouble / math.max(1L, t.probe.logRowsUsed),
      "sink.plan_s" -> t.probe.planS / math.max(1, t.probe.plans),
      "sink.files_added" -> t.filesAdded / n,
      "sink.bytes_added" -> t.bytesAdded / n,
      "sink.live_files" -> lake.specs.map(b =>
        if (b.tx) TxTable.currentFiles(ctx.spark, lake.path(b)).size
        else Main.dirFiles(lake.path(b), f => f.getName.endsWith(".parquet"))).sum.toDouble,
      "sink.txn_entries" -> txDirs.map(d => Main.dirFiles(s"$d/_graft_txn",
        f => !f.getName.endsWith(".crc"))).sum.toDouble,
      "operators.view_s" -> Main.median(t.probe.viewS.toList),
      "operators.ivm_refresh_s" -> Main.median(t.probe.ivmS.toList),
      "sink.files_read_per_query" -> t.probe.filesRead.toDouble / math.max(1L, t.probe.queries),
      "sink.prune_ratio" -> t.probe.filesRead.toDouble / math.max(1L, t.probe.liveFiles),
      "sink.rows_returned" -> t.probe.returned.toDouble)
  }

  /** `ingest_sf001`: four specs over sf0.01-sized sources, ~1% delta per
    * table per tick, first-time ingestion as set-up.
    */
  def ingest(ctx: Ctx): Outcome = {
    val src = new Lake.Sources(ctx, Scale)
    src.init()
    ctx.phase("generate")
    val specs = Lake.specs(src)
    val (lake, setupS) = setup(ctx, src, specs, SetupReps)
    ctx.phase("set-up")
    ctx.spans.clear()
    val t =
      if (ctx.traced) loop(ctx, src, lake, 1, Double.MaxValue, TracedTicks)
      else loop(ctx, src, lake, 1, ctx.seconds, RunTicks)
    ctx.phase("ticks")
    val errs = lake.check() ++ t.probe.errors
    errs.foreach(e => ctx.note(s"oracle: $e"))
    val lost = lake.sims.values.filter(_.bump).map(_.lostRows).sum
    ctx.note(s"ref_mode_lost_rows=$lost (boundary rows the +1 s / +1 bump skips on the plain specs; reference behaviour)")
    ctx.note(s"ticks=${t.opSeconds.size} rows_committed=${t.rows.sum.toLong} specs=${specs.size}")
    ctx.phase("oracle")
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else stateLayer(ctx, lake, t) ++ jdbcLayer(ctx)
    lake.close(); src.jdbc.close()
    Outcome(errs.isEmpty, t.opSeconds.size, t.failed, setupS, t.opSeconds, t.rows,
      t.written.toDouble, t.sourceBytes.toDouble, t.heapMb, layer, t.windows,
      t.opSeconds.size * specs.size, t.probe.readWindows.toList)
  }

  private def jdbcLayer(ctx: Ctx): Map[String, Double] = {
    val js = ctx.spans.all.filter(_.name == "Incremental.readJdbc")
    Map("sources.jdbc_read_s" -> (if (js.isEmpty) 0.0 else js.map(s => (s.end - s.start) / 1e9).sum / js.size))
  }

  /** The oracle must pass an honest run, and reject the same run with one
    * committed row removed and with one run-log append dropped.
    */
  def selfTest(ctx: Ctx): Boolean = {
    import ctx.spark
    val src = new Lake.Sources(ctx, 0.02)
    src.init()
    val specs = Lake.specs(src)
    val lake = new Lake(ctx, s"${ctx.work}/st", src, specs)
    require(lake.tick().isEmpty); lake.simTick()
    loop(ctx, src, lake, 1, Double.MaxValue, 2)
    val honest = lake.check()
    // one committed row removed from the plain, unpartitioned Derby-fed lake
    val b = specs.find(b => !b.tx && b.spec.partitions.isEmpty).get
    val files = new java.io.File(lake.path(b)).listFiles.filter(_.getName.endsWith(".parquet"))
    val victim = files.maxBy(_.length)
    val kept = spark.read.parquet(victim.getPath).limit(Int.MaxValue).collect()
    val schema = spark.read.parquet(victim.getPath).schema
    val tmp = s"${ctx.work}/st_tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(kept.drop(1).toIndexedSeq, 1), schema)
      .write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, victim.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val rowRemoved = lake.check()
    // restore by re-running on a fresh lake, then drop the newest log append
    val lake2 = new Lake(ctx, s"${ctx.work}/st2", src, specs)
    val honest2 = { require(lake2.tick().isEmpty); lake2.simTick(); lake2.check() }
    val logFiles = new java.io.File(s"${ctx.work}/st2/log").listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    logFiles.maxBy(_.lastModified).delete()
    val appendDropped = lake2.check()
    lake.close(); lake2.close()
    def say(what: String, errs: Seq[String], wantPass: Boolean): Boolean = {
      val ok = errs.isEmpty == wantPass
      println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $what: " +
        (if (errs.isEmpty) "oracle accepts" else s"oracle rejects (${errs.head})"))
      ok
    }
    Seq(say("honest run", honest, wantPass = true),
      say("one committed row removed", rowRemoved, wantPass = false),
      say("honest run (second lake)", honest2, wantPass = true),
      say("one run-log append dropped", appendDropped, wantPass = false)).forall(identity)
  }
}
