package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of centroid assignment and probe selection —
  * the HOF shapes the library ran before [[CentroidTopNF32]] became its
  * only path, kept here as oracles the kernel is pinned against.
  * Each collapses the centroid table to ONE broadcast row holding an
  * array<(list_id, centroid, cnrm)> and ranks it per row with
  * interpreted lambdas:
  *
  *  - [[argmax]]: an `aggregate` fold whose winner condition (cos >, or
  *    cos = and list_id <) is order-independent; a NaN cosine WINS
  *    (SQL GreaterThan treats NaN as greatest);
  *  - [[topN]] / [[probeTopN]]: `array_sort` over (−score, list_id)
  *    structs, sliced to the first `probes`; a NaN score LOSES (NaN
  *    sorts last).
  *
  * Under ANSI mode a zero-norm vector makes the cosine 0/0, which these
  * shapes raise as DIVIDE_BY_ZERO; the kernel assigns it instead.
  * An empty centroid table yields zero rows (the `size > 0` filter). */
object CentroidOracle {

  private def dot(a: Column, b: Column): Column =
    VectorExpressions.dotF32(a, b)

  private def centsRow(centroids: DataFrame): DataFrame =
    centroids.agg(collect_list(struct(
      col("list_id"), col("centroid"),
      sqrt(dot(col("centroid"), col("centroid"))).as("cnrm"))).as("cents"))

  /** (idCol, vecCol, carry..., list_id): each vector's max-cosine
    * centroid. A carried `nrm` column is recomputed as the L2 norm. */
  def argmax(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val n = df.select(col(idCol) +: col(vecCol) +:
      carry.filterNot(_ == "nrm").map(col) :+
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"): _*)
    val vec = col(vecCol)
    val nrm = col("nrm")
    n.join(broadcast(centsRow(centroids)), lit(true))
      .filter(size(col("cents")) > 0)
      .select(col(idCol) +: col(vecCol) +: carry.map(col) :+
        aggregate(
          transform(col("cents"), c => struct(
            c("list_id").cast("int").as("list_id"),
            (dot(vec, c("centroid")) / (nrm * c("cnrm")))
              .cast("double").as("cos"))),
          struct(lit(Int.MaxValue).as("list_id"),
            lit(-2.0).cast("double").as("cos")),
          (acc, e) =>
            when(e("cos") > acc("cos") ||
                (e("cos") === acc("cos") && e("list_id") < acc("list_id")),
              e).otherwise(acc))("list_id").as("list_id"): _*)
  }

  /** (idCol, vecCol, list_id): each vector's `probes` max-cosine
    * centroids, exploded best first. */
  def topN(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, probes: Int): DataFrame =
    probeTopN(df.select(col(idCol), col(vecCol),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm")),
      vecCol, Some("nrm"), centroids, probes)
      .select(col(idCol), col(vecCol), col("list_id"))

  /** Every column of `q` plus each row's `nProbe` best `list_id`s,
    * exploded best first: cosine against `nrmCol` when given, the raw
    * dot product when None. */
  def probeTopN(q: DataFrame, vecCol: String, nrmCol: Option[String],
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val keep = q.columns.toSeq.map(col)
    def score(c: Column): Column = nrmCol match {
      case Some(nc) =>
        dot(col(vecCol), c("centroid")) / (col(nc) * c("cnrm"))
      case None => dot(col(vecCol), c("centroid"))
    }
    q.join(broadcast(centsRow(centroids)), lit(true))
      .filter(size(col("cents")) > 0)
      .select(keep :+
        explode(slice(array_sort(transform(col("cents"), c => struct(
          (-score(c)).cast("double").as("negscore"),
          c("list_id").cast("int").as("list_id")))), 1, nProbe))
          .as("probe"): _*)
      .select(keep :+ col("probe.list_id").as("list_id"): _*)
  }
}
