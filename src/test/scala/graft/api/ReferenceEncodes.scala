package graft.api

import graft.functions.{CentroidOracle, VectorExpressions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Broadcast-join formulations of the PQ and IVF encode passes — the
  * shape the library ran before every codebook reached its kernels as
  * frozen plan literals (`Graft.pqEncode`, `Graft.pqEncodeFrozen`,
  * `Graft.sqEncodeFrozen`), kept as the oracles FrozenEncodeSpec pins
  * those against. Assignment runs the HOF fold
  * ([[CentroidOracle.argmax]]), so the comparison also crosses the
  * kernel against its reference. */
object ReferenceEncodes {

  private def dot(a: Column, b: Column): Column =
    VectorExpressions.dotF32(a, b)

  /** The flat PQ encode with the one-row flattened codebook
    * ([[Graft.pqFlatLookup]]) broadcast and cross-joined into every
    * row. Output: (idCol, carry..., vecCol, code, rnorm). */
  def pqEncodeWith(df: DataFrame, idCol: String, vecCol: String,
      lookup: DataFrame, dim: Int, m: Int, ksub: Int,
      carry: Seq[String] = Nil, l2: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0 && ksub > 1,
      s"pqEncode(dim=$dim, m=$m, ksub=$ksub)")
    val dsub = dim / m
    // Encode is THE per-corpus-byte map pass of index build (everything
    // else trains on bounded samples), so it runs as one codegen'd
    // kernel against the flattened broadcast codebook instead of the
    // interpreted per-candidate struct fold (r8: the fold allocated a
    // struct per (subspace, centroid) candidate — m·ksub per row).
    // rnorm reuses the ADC-LUT read over the dense cnrm² table: the
    // reconstruction norm is itself a code-indexed lookup sum.
    df.join(broadcast(Graft.pqFlatLookup(lookup, m, ksub)), lit(true))
      .withColumn("code", VectorExpressions.pqEncodeF32(
        col(vecCol), col("cells"), col("cents"), col("cnrms"),
        m, ksub, dsub, l2 = l2))
      .withColumn("rnorm", sqrt(VectorExpressions
        .pqAdcLut(col("cnrm2"), col("code"), ksub)))
      .select(col(idCol) +: carry.map(col) :+ col(vecCol) :+
        col("code") :+ col("rnorm"): _*)
  }

  /** The IVF-SQ8 ENCODE pass against a FIXED coarse quantizer: assign
    * (payload carried) + the max-abs int8 kernels map-side.
    * Zero-direction rows (mx = 0) are excluded. Output:
    * (idCol, list_id, mx, q, nrm, payload...). */
  def sqEncodeAgainst(src: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, payload: Seq[String]): DataFrame =
    CentroidOracle.argmax(src, idCol, vecCol, cents, carry = payload)
      .withColumn("nrm", sqrt(dot(col(vecCol), col(vecCol))))
      .withColumn("mx", VectorExpressions.maxAbsF32(col(vecCol)))
      .filter(col("mx") > 0)
      .withColumn("q",
        VectorExpressions.sq8EncodeF32(col(vecCol), col("mx")))
      .select(col(idCol) +: col("list_id") +: col("mx") +: col("q") +:
        col("nrm") +: payload.map(col): _*)

  /** The IVF-PQ ENCODE pass against a FIXED quantizer + codebook pair:
    * assign each row to its argmax list, residual-encode against the
    * list centroid, and attach the full reconstruction norm. The
    * centroid table, the codebook lookup, and the nlist-row
    * reconstruction-term table all broadcast. Output:
    * (idCol, list_id, code, rnorm, payload...). */
  def pqEncodeAgainst(src: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, lookup: DataFrame, dim: Int, m: Int, ksub: Int,
      payload: Seq[String]): DataFrame = {
    val dsub = dim / m
    val centSide = broadcast(cents
      .select(col("list_id"), col("centroid").as("__cent")))
    val residuals = CentroidOracle.argmax(src, idCol, vecCol, cents,
        carry = payload)
      .join(centSide, "list_id")
      .withColumn("__res", VectorExpressions
        .vecSubF32(col(vecCol), col("__cent")))
    // per-list reconstruction terms for rnorm: clut[cell] =
    // c_sub(mi)·codebook(mi, code) (the query-LUT kernel run with the
    // centroid as the "query"), cn2 = ‖c‖² — nlist rows, built once
    val centTerms = cents
      .join(broadcast(Graft.pqFlatLookup(lookup, m, ksub)
        .select(col("cells").as("__ctcells"),
          col("cents").as("__ctcents"))), lit(true))
      .select(col("list_id"),
        VectorExpressions.pqQueryLutF32(col("centroid"),
          col("__ctcells"), col("__ctcents"), m, ksub, dsub).as("__clut"),
        dot(col("centroid"), col("centroid")).as("__cn2"))
    val payloadCols = payload.map(col)
    pqEncodeWith(residuals, idCol, "__res",
      lookup, dim, m, ksub, carry = Seq("list_id") ++ payload, l2 = true)
      .select(col(idCol) +: col("list_id") +: col("code") +:
        col("rnorm") +: payloadCols: _*)
      .join(broadcast(centTerms), "list_id")
      // greatest(0, ·): the three LUT terms are float-rounded; a zero
      // reconstruction must read 0.0, not √(-1e-17) = NaN
      .select(col(idCol) +: col("list_id") +: col("code") +:
        sqrt(greatest(lit(0.0), col("__cn2") +
          lit(2.0) * VectorExpressions
            .pqAdcLut(col("__clut"), col("code"), ksub) +
          col("rnorm") * col("rnorm"))).as("rnorm") +: payloadCols: _*)
  }
}
