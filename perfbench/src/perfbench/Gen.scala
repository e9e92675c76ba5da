package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Growable primitive long column (the generator keeps one per source
  * field so the oracle never boxes a million rows).
  */
final class LongVec {
  private var a = new Array[Long](1024)
  var size = 0
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Long = a(i)
  def update(i: Int, v: Long): Unit = a(i) = v
}

/** Every version of every row a source has held, as the oracle sees it:
  * primary key (one long; composite keys are folded), created, updated
  * and modified instants in epoch seconds (modified `Null` until the
  * first update) and the integer version `ver`. File sources append a
  * new version per update; an in-place source (the JDBC table)
  * overwrites the row.
  */
final class SrcRows(val inPlace: Boolean) {
  val pk, cre, upd, mod, ver = new LongVec
  private val rowOfPk = scala.collection.mutable.HashMap.empty[Long, Int]
  def size: Int = pk.size
  def add(p: Long, c: Long, u: Long, m: Long, v: Long): Unit =
    if (inPlace && rowOfPk.contains(p)) {
      val i = rowOfPk(p); upd(i) = u; mod(i) = m; ver(i) = v
    } else {
      rowOfPk(p) = pk.size
      pk += p; cre += c; upd += u; mod += m; ver += v
    }
}

object Gen {
  val Null: Long = Long.MinValue
  /** Virtual clock: base rows were created in the 28 days before T0 (a
    * day-partitioned lake stays below Spark's 32-path parallel-listing
    * threshold);
    * tick k's changes land within the hour after T0 + k hours.
    */
  val T0: Long = 1717200000L // 2024-06-01 00:00:00 UTC
  val BaseSpan: Long = 28L * 86400L
  def tickTime(k: Int): Long = T0 + k * 3600L

  /** Spark's `xxhash64(seed, a, b, c)` over longs, reproduced on the driver. */
  def h(seed: Long, a: Long, b: Long, c: Long): Long =
    XXH64.hashLong(c, XXH64.hashLong(b, XXH64.hashLong(a, XXH64.hashLong(seed, 42L))))
  def hCol(seed: Long, a: Long, b: Column, c: Long): Column =
    xxhash64(lit(seed), lit(a), b, lit(c))

  def ts(c: Column): Column = timestamp_seconds(c)
}

/** One generated source table: the shape (columns; row count per scale
  * factor) of
  * `events`, `orders` or `lineitem`, plus the watermark columns every
  * spec chooses from: `created_at`, `updated_at` (never null),
  * `modified_at` (null until updated), the integer `row_ver`, and a
  * 16-way `bucket` for the incremental aggregate.
  */
final class SourceTable(val name: String, val id: Long, val baseRows: Int,
                        seed: Long, val rows: SrcRows) {
  import Gen._

  /** Row ordinal → primary key; lineitem folds (l_orderkey, l_linenumber). */
  def pkOf(ord: Long): Long =
    if (name == "lineitem") (ord / 4 + 1) * 8 + ord % 4 + 1 else ord + 1
  private def pkOfCol(ord: Column): Column =
    if (name == "lineitem") (ord.divide(4).cast("long") + 1) * 8 + pmod(ord, lit(4L)) + 1
    else ord + 1
  /** The folded key as a column of the table (for the oracle's hash). */
  val pkExpr: String =
    if (name == "lineitem") "l_orderkey * 8 + l_linenumber"
    else if (name == "events") "event_id" else "o_orderkey"
  val keyCols: Seq[String] =
    if (name == "lineitem") Seq("l_orderkey", "l_linenumber")
    else if (name == "events") Seq("event_id") else Seq("o_orderkey")

  private def creOf(pk: Long): Long = T0 - 1 - Math.floorMod(h(seed, id, pk, 1L), BaseSpan)
  private val creByOrd = new LongVec
  private var nextOrd = 0L
  private var nextVer = 1L
  private var prevMax = (0L, 0L, Null, 0L) // (cre, upd, mod, ver) of the last delta

  /** Base rows: ordinal i, created in the 28 days before T0, version i+1. */
  def genBase(spark: SparkSession): DataFrame = {
    var mc, mu, mv = Long.MinValue
    for (i <- 0 until baseRows) {
      val p = pkOf(i); val c = creOf(p)
      rows.add(p, c, c, Null, i + 1L); creByOrd += c
      mc = math.max(mc, c); mv = i + 1L
    }
    mu = mc
    nextOrd = baseRows; nextVer = baseRows + 1L; prevMax = (mc, mu, Null, mv)
    withPayload(spark.range(baseRows).select(pkOfCol(col("id")).as("pk"), (col("id") + 1).as("ver"))
      .withColumn("cre", lit(T0 - 1) - pmod(hCol(seed, id, col("pk"), 1L), lit(BaseSpan)))
      .select(col("pk"), col("cre"), col("cre").as("upd"), lit(null).cast("long").as("mod"),
        col("ver")))
  }

  /** Tick k's changes: inserts and updates that move the watermark, each
    * `frac` of the base row count, plus `late` rows landing exactly on
    * the previous delta's maxima (the watermark instant/value). Recorded
    * in [[rows]] and returned as (pk, cre, upd, mod, ver) tuples.
    */
  def genDelta(k: Int, frac: Double, late: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val rnd = new scala.util.Random(Gen.h(seed, id, k.toLong, 7L))
    val n = math.max(1, (baseRows * frac).toInt)
    val t = tickTime(k)
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    def emit(p: Long, c: Long, u: Long, m: Long, v: Long): Unit = {
      rows.add(p, c, u, m, v); out += ((p, c, u, m, v))
    }
    val (pc, pu, pm, pv) = prevMax
    for (_ <- 0 until late) {
      val p = pkOf(nextOrd); nextOrd += 1; creByOrd += pc
      emit(p, pc, pu, pm, pv)
    }
    var mc, mu, mm, mv = Long.MinValue
    for (_ <- 0 until n) { // inserts
      val p = pkOf(nextOrd); nextOrd += 1
      val c = t + rnd.nextInt(3000); creByOrd += c
      emit(p, c, c, Null, nextVer)
      mc = math.max(mc, c); mu = math.max(mu, c); mv = nextVer; nextVer += 1
    }
    val picked = scala.collection.mutable.HashSet.empty[Long]
    while (picked.size < n) picked += (rnd.nextDouble() * nextOrd).toLong
    for (ord <- picked.toSeq.sorted) { // updates move updated_at and modified_at
      val u = t + rnd.nextInt(3000)
      emit(pkOf(ord), creByOrd(ord.toInt), u, u, nextVer)
      mu = math.max(mu, u); mm = math.max(mm, u); mv = nextVer; nextVer += 1
    }
    prevMax = (mc, mu, if (mm == Long.MinValue) Null else mm, mv)
    out.result()
  }

  def deltaFrame(spark: SparkSession, d: Seq[(Long, Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    withPayload(d.map { case (p, c, u, m, v) => (p, c, u, if (m == Gen.Null) None else Some(m), v) }
      .toDF("pk", "cre", "upd", "mod", "ver"))
  }

  /** The benchmark-data columns, derived from (pk, ver) by hashing so the bytes
    * are seeded too; `row_ver` versions change the payload.
    */
  private def withPayload(k: DataFrame): DataFrame = {
    def hh(salt: Long): Column = xxhash64(lit(seed), lit(id), col("pk"), col("ver"), lit(salt))
    def pick(salt: Long, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (pmod(hh(salt), lit(xs.size.toLong)) + 1).cast("int"))
    def money(salt: Long, max: Long): Column = (pmod(hh(salt), lit(max)) / 100.0)
    val common = Seq(
      ts(col("cre")).as("created_at"), ts(col("upd")).as("updated_at"),
      ts(col("mod")).as("modified_at"), col("ver").as("row_ver"),
      pmod(col("pk"), lit(16L)).as("bucket"))
    val cols: Seq[Column] = name match {
      case "events" => Seq(col("pk").as("event_id"), ts(col("cre")).as("ts"),
        pmod(hh(1), lit(1500L)).as("user_id"),
        pick(2, "view", "click", "add_to_cart", "purchase", "search").as("event_type"),
        money(3, 100000L).as("value"),
        concat(lit("{\"src\":\""), pick(4, "web", "ios", "android"), lit("\",\"v\":"),
          pmod(hh(5), lit(1000L)).cast("string"), lit("}")).as("props"))
      case "orders" => Seq(col("pk").as("o_orderkey"), pmod(hh(1), lit(15000L)).as("o_custkey"),
        pick(2, "O", "F", "P").as("o_orderstatus"), money(3, 50000000L).as("o_totalprice"),
        ts(col("cre")).as("o_orderdate"),
        pick(4, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
      case _ => Seq((col("pk").divide(8).cast("long")).as("l_orderkey"),
        pmod(hh(1), lit(20000L)).as("l_partkey"), pmod(hh(2), lit(1000L)).as("l_suppkey"),
        pmod(col("pk"), lit(8L)).cast("int").as("l_linenumber"),
        (pmod(hh(3), lit(50L)) + 1).cast("double").as("l_quantity"),
        money(4, 10000000L).as("l_extendedprice"), (pmod(hh(5), lit(11L)) / 100.0).as("l_discount"),
        (pmod(hh(6), lit(9L)) / 100.0).as("l_tax"), pick(7, "A", "N", "R").as("l_returnflag"),
        pick(8, "O", "F").as("l_linestatus"), ts(col("cre")).as("l_shipdate"))
    }
    k.select(cols ++ common: _*)
  }
}
