package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis
import graft.sources.Catalog

/** The bench-driven `Catalog` loop of the incremental workload: the
  * public storage functions called directly, in seeded batches whose
  * union is the whole input, so the oracle of the matching driver entry
  * checks the final state.
  *
  *  - `cat_text`: `buildTextIndex` on batch 0, `upsertTextIndex` per later
  *    batch, `compactTextIndex`, then `loadTextIndex` and a BM25 read
  *    (oracle of `fs_bm25_upsert`);
  *  - `cat_mv`: `refreshAggMvBucketed` per batch (oracle of
  *    `fs_incr_agg_bucketed`); `cat_mv_lookup`: `bucketedMvLookup` over
  *    the state `cat_mv` left (oracle of `fs_mv_lookup`).
  *
  * Every call is recorded as a span `sources.<fn>` under the item's
  * entry span. */
final class CatalogLoop(spark: SparkSession, dir: String, spec: CatalogLoop.Spec,
    clock: Clock) {
  val spans = ArrayBuffer[Map[String, Any]]()
  @volatile var parent = 0L

  private def call[T](fn: String)(body: => T): T = {
    val s = clock.now()
    try body
    finally spans.synchronized {
      spans += Map("fn" -> fn, "start" -> s, "end" -> clock.now(), "parent" -> parent)
    }
  }

  /** Batch number (0..cuts.size) of each row: rows hash to 0..999 under
    * the seed; cut points split that range. */
  private def batchOf(key: Column, cuts: Seq[Int]): Column = {
    val h = pmod(xxhash64(key, lit(spec.seed)), lit(1000L))
    cuts.map(c => when(h >= c, 1).otherwise(0)).foldLeft(lit(0))(_ + _)
  }

  def run(item: String): DataFrame = {
    val cat = new Catalog(spark, dir, Some(Catalog.warehouseLayoutRoot(spark, dir)))
    item match {
      case "cat_text" =>
        val docs = Tables.documents(spark, dir)
        val b = batchOf(col("doc_id"), spec.text)
        call("dropDerived")(cat.dropDerived("pb_text"))
        call("buildTextIndex")(cat.buildTextIndex("pb_text", docs.where(b === 0)))
        for (k <- 1 to spec.text.size)
          call("upsertTextIndex")(cat.upsertTextIndex("pb_text", docs.where(b === k), k.toLong))
        call("compactTextIndex")(cat.compactTextIndex("pb_text"))
        val idx = call("loadTextIndex")(cat.loadTextIndex("pb_text"))
        TextAnalysis.bm25Indexed(idx, Seq("data", "join", "scan"))

      case "cat_mv" =>
        val ord = Tables.orders(spark, dir)
        val b = batchOf(col("o_orderkey"), spec.mv)
        call("dropDerived")(cat.dropDerived("pb_mv"))
        val states = (0 to spec.mv.size).map { k =>
          call("refreshAggMvBucketed")(cat.refreshAggMvBucketed("pb_mv",
            CatalogLoop.dayAgg(ord.where(b === k)), Seq("day"), 16))
        }
        CatalogLoop.revenue(states.last)

      case "cat_mv_lookup" =>
        import spark.implicits._
        val probe = Seq("1995-06-19", "2000-02-03", "1996-02-25").toDF("day")
        CatalogLoop.revenue(call("bucketedMvLookup")(
          cat.bucketedMvLookup("pb_mv", probe, Seq("day"))))
    }
  }
}

object CatalogLoop {

  /** `seed` and the cut points of each loop, parsed from
    * `seed=S;text=c,c;mv=c`. */
  final case class Spec(seed: Long, text: Seq[Int], mv: Seq[Int])

  object Spec {
    def parse(s: String): Spec = {
      val kv = s.split(";").filter(_.contains("=")).map { p =>
        val i = p.indexOf('='); p.take(i) -> p.drop(i + 1) }.toMap
      def nums(k: String) = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toInt)
      Spec(kv.getOrElse("seed", "0").toLong, nums("text"), nums("mv"))
    }
  }

  /** The driver entry whose oracle checks each loop item. */
  def oracleOf(item: String): Option[String] = item match {
    case "cat_text" => Some("fs_bm25_upsert")
    case "cat_mv" => Some("fs_incr_agg_bucketed")
    case "cat_mv_lookup" => Some("fs_mv_lookup")
    case _ => None
  }

  def dayAgg(df: DataFrame): DataFrame = df
    .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
    .agg(count(lit(1)).as("n_orders"),
      sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))

  def revenue(state: DataFrame): DataFrame = state
    .select(col("day"), col("n_orders"), (col("rev_cents").cast("double") / 100.0).as("revenue"))
}
