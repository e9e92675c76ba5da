package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Generator-side model of one spec's watermark protocol, run over the
  * generator's own record of the source ([[SrcRows]]), never over engine
  * output. Per tick: start = max prior end (+1 s / +1 in the reference's
  * bump mode), slice = source rows with delta >= start, minus rows whose
  * (key, delta) the lake already holds in the non-bump mode, end = max
  * delta (`least(max(a), max(b))` for `coalesce(a, b)`). The lake it
  * predicts is a multiset of (key, delta) rows tagged with the commit
  * that landed them.
  */
final class SpecSim(val kind: String, val bump: Boolean, src: SrcRows) {
  require(Set("dt", "int", "coal").contains(kind), kind)
  val lpk, ldv, lver, lcommit = new LongVec
  val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (end, rows) per landed run
  private var lastEnd: Option[Long] = None

  def dv(i: Int): Long = kind match {
    case "dt" => src.upd(i)
    case "int" => src.ver(i)
    case _ => if (src.mod(i) != Gen.Null) src.mod(i) else src.cre(i)
  }

  /** One run; returns the rows it lands (0 = no data). */
  def tick(): Long = {
    val start = lastEnd.fold(Long.MinValue)(e => if (bump) e + 1 else e)
    var slice = (0 until src.size).filter(i => dv(i) >= start)
    if (!bump && lpk.size > 0) {
      val tail = scala.collection.mutable.HashSet.empty[(Long, Long)]
      for (j <- 0 until lpk.size if ldv(j) >= start) tail += ((lpk(j), ldv(j)))
      slice = slice.filterNot(i => tail.contains((src.pk(i), dv(i))))
    }
    if (slice.isEmpty) return 0L
    val end = kind match {
      case "coal" =>
        val mods = slice.map(src.mod(_)).filter(_ != Gen.Null)
        val maxCre = slice.map(src.cre(_)).max
        if (mods.isEmpty) maxCre else math.min(mods.max, maxCre)
      case _ => slice.map(dv).max
    }
    val commit = runs.size + 1L
    for (i <- slice) { lpk += src.pk(i); ldv += dv(i); lver += src.ver(i); lcommit += commit }
    runs += ((end, slice.size.toLong))
    lastEnd = Some(lastEnd.fold(end)(math.max(_, end)))
    slice.size.toLong
  }

  /** Source versions that never reached the lake: the rows the
    * reference's +1 s / +1 bump skips at the boundary.
    */
  def lostRows: Long = {
    val landed = scala.collection.mutable.HashSet.empty[(Long, Long)]
    for (j <- 0 until lpk.size) landed += ((lpk(j), ldv(j)))
    (0 until src.size).count(i => !landed.contains((src.pk(i), dv(i)))).toLong
  }

  def rows(upTo: Long = Long.MaxValue): Long =
    (0 until lpk.size).count(j => lcommit(j) <= upTo).toLong
  def hashSum: Long =
    (0 until lpk.size).map(j => Oracle.rowHash(lpk(j), ldv(j))).sum
  def latest(pk: Long): Option[Long] = {
    val d = (0 until lpk.size).filter(j => lpk(j) == pk).map(ldv(_))
    if (d.isEmpty) None else Some(d.max)
  }
  def countIn(lo: Long, hi: Long): Long =
    (0 until lpk.size).count(j => ldv(j) >= lo && ldv(j) <= hi).toLong
  /** (bucket, rows, sum(row_ver)) at commit `upTo` — the IVM aggregate. */
  def buckets(upTo: Long): Seq[(Long, Long, Long)] =
    (0 until lpk.size).filter(j => lcommit(j) <= upTo)
      .groupBy(j => Math.floorMod(lpk(j), 16L)).toSeq
      .map { case (b, js) => (b, js.size.toLong, js.map(lver(_)).sum) }.sortBy(_._1)
}

object Oracle {
  /** Order-free row fingerprint: Spark's xxhash64(key, delta) mod 2^31. */
  def rowHash(pk: Long, dv: Long): Long =
    Math.floorMod(XXH64.hashLong(dv, XXH64.hashLong(pk, 42L)), 1L << 31)

  /** The delta value as the oracle models it (epoch seconds or version). */
  def dvExpr(kind: String): String = kind match {
    case "dt" => "unix_seconds(updated_at)"
    case "int" => "row_ver"
    case _ => "unix_seconds(coalesce(modified_at, created_at))"
  }

  /** (rows, hash sum) of a lake table in one aggregate job. */
  def fingerprint(lake: DataFrame, pkExpr: String, kind: String): (Long, Long) = {
    val r = lake.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(expr(pkExpr).cast("long"), expr(dvExpr(kind)).cast("long")),
        lit(1L << 31))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def fmtEnd(kind: String, v: Long): String =
    if (kind == "int") v.toString
    else java.time.LocalDateTime.ofEpochSecond(v, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}
