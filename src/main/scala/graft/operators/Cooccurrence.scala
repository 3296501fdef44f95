package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket CO-OCCURRENCE mining — the association-rule staple
  * ("users who did X also did Y"; docs sharing tags; items bought
  * together): for every unordered item pair, the basket co-count plus
  * exact integer-ppm support, directional confidences, and lift. The
  * recommender/affinity primitive the funnel and transition operators
  * don't cover (they need order; this is set semantics).
  *
  * Scale shape — the pair explosion is the classic blowup and it is
  * bounded at the BASKET, not the pair join: one distinct pass builds
  * (basket, item), one group-by folds each basket into its sorted item
  * set ROW-LOCALLY, and baskets larger than `maxBasket` are DROPPED
  * whole (a bot scrolling every item contributes maxBasket²-free noise;
  * capping by truncation would silently bias toward lexicographically
  * small items — all-or-nothing keeps the statistics honest, and the
  * drop count is observable as `n_baskets` vs the caller's own count).
  * Pair expansion is then row-local ≤ maxBasket(maxBasket−1)/2 per
  * basket; only (a, b) pair skeletons shuffle, item frequencies ride a
  * broadcast (vocabulary-sized). No self-join of the basket table —
  * the explosion the naive pairs-by-join plan pays — and every
  * statistic is exact integer arithmetic: count·10⁶ div denominator,
  * with lift DEFINED as the floor composition
  * `(conf(a→b)_ppm · n_baskets) div n_b` so the largest intermediate is
  * 10⁶·n_baskets (no overflow below ~9·10¹² baskets — comfortably past
  * 100 TB; the naive n_pair·n_baskets·10⁶ cross product overflows the
  * long at ~3·10⁶).
  *
  * Returns (item_a, item_b, n_pair, n_a, n_b, support_ppm,
  * conf_a_to_b_ppm, conf_b_to_a_ppm, lift_ppm) with item_a < item_b;
  * support = n_pair/n_baskets, conf(a→b) = n_pair/n_a, lift ≈
  * n_pair·n_baskets/(n_a·n_b) (the composed floor above — ≤ 2 ppm
  * under the exact rational, deterministic, oracle-mirrored).
  * `minSupport` (an absolute pair count, >= 1) prunes the long tail
  * before the stats join.
  */
object Cooccurrence {

  def pairs(df: DataFrame, basketCol: String, itemCol: String,
            maxBasket: Int, minSupport: Long = 1L): DataFrame = {
    require(maxBasket >= 2, s"maxBasket=$maxBasket")
    require(minSupport >= 1, s"minSupport=$minSupport")
    val items = df.select(col(basketCol).as("__basket"),
      col(itemCol).as("__item")).distinct()
    // the basket frame feeds three consumers (total, item counts, pair
    // expansion) — persisted so the distinct+fold pass runs ONCE, with
    // the total-count probe as the cache fill (probe, then
    // releaseAfterNextUse: the caller's action consumes and releases)
    val persisted =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        items.groupBy(col("__basket"))
          .agg(sort_array(collect_set(col("__item"))).as("__items"))
          .filter(size(col("__items")) <= maxBasket),
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val baskets = persisted.df
    // both denominators come from the KEPT baskets — support, confidence
    // and lift all describe the same (capped) population
    val total = baskets.count()
    persisted.releaseAfterNextUse()
    val counts = baskets.select(explode(col("__items")).as("__item"))
      .groupBy(col("__item")).agg(count(lit(1)).as("__n"))
    // row-local unordered pair expansion over the sorted set: i < j ⇒
    // item_a < item_b with no post-hoc canonicalization
    val pairExpr = expr(
      """flatten(transform(__items, (x, i) ->
        |  transform(slice(__items, i + 2, size(__items)), y ->
        |    struct(x AS item_a, y AS item_b))))""".stripMargin)
    val pairCounts = baskets
      .select(explode(pairExpr).as("__p"))
      .groupBy(col("__p.item_a").as("item_a"), col("__p.item_b").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    val ca = counts.select(col("__item").as("item_a"), col("__n").as("n_a"))
    val cb = counts.select(col("__item").as("item_b"), col("__n").as("n_b"))
    pairCounts
      .join(broadcast(ca), "item_a")
      .join(broadcast(cb), "item_b")
      .select(col("item_a"), col("item_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        expr(s"n_pair * CAST(1000000 AS BIGINT) div ${total}L")
          .as("support_ppm"),
        expr("n_pair * CAST(1000000 AS BIGINT) div n_a")
          .as("conf_a_to_b_ppm"),
        expr("n_pair * CAST(1000000 AS BIGINT) div n_b")
          .as("conf_b_to_a_ppm"),
        expr(s"(n_pair * CAST(1000000 AS BIGINT) div n_a) * ${total}L" +
          " div n_b").as("lift_ppm"))
  }
}
