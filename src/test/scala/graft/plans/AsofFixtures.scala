package graft.plans

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** As-of inputs (key, timestamp in whole seconds, value), the exec run on
  * them, and two references it is checked against: a driver-side naive
  * scan and a Spark join + window composition.
  */
trait AsofFixtures { self: SparkSpec =>

  /** One input row; key and time (whole seconds) may be null. */
  protected case class R(k: Option[Long], t: Option[Long], v: String)

  protected def r(k: Integer, t: Integer, v: String): R =
    R(Option(k).map(_.toLong), Option(t).map(_.toLong), v)

  protected def ts(t: Option[Long]): Timestamp = t.map(s => new Timestamp(s * 1000L)).orNull

  protected def frame(rows: Seq[R], time: String, value: String): DataFrame =
    spark.createDataFrame(
      rows.map(x => Row(x.k.map(Long.box).orNull, ts(x.t), x.v)).asJava,
      StructType(Seq(StructField("k", LongType), StructField(time, TimestampType),
        StructField(value, StringType))))

  protected val carried = Map("rv" -> "rv_out", "rt" -> "rt_out")

  protected def engine(left: Seq[R], right: Seq[R], direction: String,
                     tolSeconds: Option[Long]): Seq[String] =
    AsofJoinNative.asof(frame(left, "lt", "lv"), frame(right, "rt", "rv"),
      "k", "lt", "rt", carried, direction, tolSeconds.map(_ * 1000000L))
      .collect().map(_.mkString("|")).sorted.toSeq

  /** For each left row, scan every right row: same key (null keys equal
    * each other, like groupBy), non-null right time on the right side of
    * a non-null left time (boundary-equal included), within tolerance;
    * nearest wins. Right (key, time) pairs must be unique, because which
    * of two tied rows matches is engine-chosen.
    */
  protected def reference(left: Seq[R], right: Seq[R], direction: String,
                        tolSeconds: Option[Long]): Seq[String] = {
    val timed = right.filter(_.t.isDefined)
    require(timed.map(x => (x.k, x.t)).distinct.size == timed.size,
      "right (key, time) pairs must be unique")
    left.map { l =>
      val cands = l.t.toSeq.flatMap { lt =>
        timed.filter { x =>
          val rt = x.t.get
          x.k == l.k && (if (direction == "backward") rt <= lt else rt >= lt) &&
            tolSeconds.forall(math.abs(rt - lt) <= _)
        }
      }
      val best =
        if (cands.isEmpty) None
        else if (direction == "backward") Some(cands.maxBy(_.t.get))
        else Some(cands.minBy(_.t.get))
      Row(l.k.map(Long.box).orNull, ts(l.t), l.v,
        best.map(_.v).orNull, best.map(b => ts(b.t)).orNull).mkString("|")
    }.sorted
  }

  /** The same semantics as a plain Spark composition: a left join on
    * null-safe key equality and the time range, then a window keeping the
    * nearest right row per left row. It shares no code with the exec.
    */
  protected def composition(left: Seq[R], right: Seq[R], direction: String,
                          tolSeconds: Option[Long]): Seq[String] = {
    val l = frame(left, "lt", "lv").withColumn("__lid", monotonically_increasing_id())
    val rr = frame(right, "rt", "rv").withColumnRenamed("k", "rk")
    val (lt, rt) = (col("lt").cast("long"), col("rt").cast("long"))
    val cond = col("k") <=> col("rk") &&
      (if (direction == "backward") rt <= lt else rt >= lt) &&
      tolSeconds.fold(lit(true))(b => abs(rt - lt) <= b)
    val nearest = Window.partitionBy("__lid")
      .orderBy(if (direction == "backward") col("rt").desc else col("rt").asc)
    l.join(rr, cond, "left").withColumn("__n", row_number().over(nearest))
      .where(col("__n") === 1).select("k", "lt", "lv", "rv", "rt")
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  /** Rows over few keys and a small time range, so boundary-equal times
    * occur; right rows deduped to unique (key, time). */
  protected def random(seed: Int, nLeft: Int, nRight: Int, keys: Int, span: Int): (Seq[R], Seq[R]) = {
    val rnd = new scala.util.Random(seed)
    def gen(n: Int, prefix: String) =
      Seq.fill(n)(r(rnd.nextInt(keys), rnd.nextInt(span), s"$prefix${rnd.nextInt(100)}"))
    (gen(nLeft, "l"), gen(nRight, "r").distinctBy(x => (x.k, x.t)))
  }
}
