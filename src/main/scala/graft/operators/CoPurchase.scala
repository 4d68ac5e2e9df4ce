package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-occurrence pair mining over (group, item) incidences — the
  * market-basket / co-click generator (catalog m37). The pair stream
  * is an equi-self-join on the group key (never a cartesian), but its
  * volume is Σ C(degree(g), 2): entirely controlled by per-group
  * degree, so ONE wholesale customer holding 10⁵ distinct parts emits
  * 5×10⁹ pairs while every normal basket emits dozens — the textbook
  * skew blow-up at 100 TB.
  *
  * `maxDegree` is the scale valve — the d7 capped-LSH discipline
  * applied to baskets, through the SAME bounded-buffer aggregate
  * (CappedDocListAgg): one shuffle groups the incidences with an
  * O(cap) buffer per group however hot the key, groups whose exact
  * count exceeds the cap are dropped WHOLE (a mega-basket is almost
  * pure noise for co-occurrence — everything co-occurs with
  * everything — exactly like a boilerplate LSH bucket), and pairs
  * explode row-locally from each survivor's ≤cap item array: total
  * pair volume is bounded by |groups|·C(cap, 2), no self-join, no
  * second scan, no broadcast of a group list. `None` keeps the exact
  * uncapped self-join form — the oracle-gated default at test scale.
  */
object CoPurchase {
  /** Hot-group threshold B of the uncapped path (default 256): a
    * positive integer, anything else is rejected. */
  val SaltDegreeKey = "spark.graft.copurchase.saltDegree"

  /** Distinct item pairs co-occurring in ≥ `minSupport` groups, with
    * the co-occurrence count as `n_<groupCol>`.
    *
    * @param incidences DISTINCT (group, item) rows, item castable to
    *                   long — caller dedups
    * @param maxDegree  drop groups with more than this many distinct
    *                   items before pairing; None = exact/uncapped
    */
  def pairs(incidences: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long, maxDegree: Option[Int] = None): DataFrame = {
    val g = col(groupCol)
    val nCol = "n_" + groupCol
    val paired = maxDegree match {
      case None =>
        // Exact/uncapped — but SKEW-SAFE (guide §2.5): a plain
        // self-join on the group key funnels a hot group's whole
        // C(deg,2) fanout through ONE shuffle key/task. Groups are
        // split by measured degree: normal groups (deg ≤ B) keep the
        // plain equi-join; a hot group's right side is SALTED by
        // pmod(xxhash64(item), k) with k = ⌈deg/B⌉ and its left side
        // replicated across the k salts, so the join key (group, salt)
        // spreads the same pair volume over k tasks with ≤ B build
        // rows each. Every unordered pair is produced exactly twice
        // ((x,y) at y's salt and (y,x) at x's salt) and p1 < p2 keeps
        // one — the emitted multiset is identical to the plain join's,
        // so counts (and the oracle hash) are unchanged. B is
        // parameterized; deg ≤ B groups pay only the degree
        // aggregation (map-side combined, |groups| rows shuffled).
        val B = incidences.sparkSession.conf.getOption(SaltDegreeKey).fold(256L) { v =>
          v.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
            s"$SaltDegreeKey must be a positive integer, got '$v'"))
        }
        val inc = incidences.select(g, col(itemCol).as("_it"))
        val deg = inc.groupBy(g).agg(count(lit(1)).as("_deg"))
        val withDeg = inc.join(deg, Seq(groupCol))
        val cold = withDeg.filter(col("_deg") <= B)
        val hot = withDeg.filter(col("_deg") > B)
          .withColumn("_k", ceil(col("_deg").cast("double") / B).cast("long"))
        val coldPairs = cold.select(g, col("_it").as("p1"))
          .join(cold.select(g, col("_it").as("p2")), Seq(groupCol))
        val hotPairs = hot
          .select(g, col("_it").as("p1"),
            explode(sequence(lit(0L), col("_k") - 1L)).as("_s"))
          .join(hot.select(g, col("_it").as("p2"),
            pmod(xxhash64(col("_it")), col("_k")).as("_s")),
            Seq(groupCol, "_s"))
        coldPairs.select(col("p1"), col("p2"))
          .unionByName(hotPairs.select(col("p1"), col("p2")))
          .filter(col("p1") < col("p2"))
      case Some(cap) =>
        val capAgg = udaf(new CappedDocListAgg(cap))
        incidences
          .groupBy(g).agg(capAgg(col(itemCol).cast("long"), lit(0L)).as("gp"))
          .filter(col("gp._1") <= cap) // exact count: over-cap groups go whole
          .select(explode(col("gp._2")).as("a"), col("gp._2").as("items"))
          .select(col("a"), explode(col("items")).as("b"))
          .filter(col("a._1") < col("b._1"))
          .select(col("a._1").as("p1"), col("b._1").as("p2"))
    }
    paired.groupBy(col("p1"), col("p2")).agg(count(lit(1)).as(nCol))
      .filter(col(nCol) >= minSupport)
  }
}
