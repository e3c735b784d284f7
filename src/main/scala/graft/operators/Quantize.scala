package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding quantization — the storage/memory-reduction pass an ANN
  * index needs at 100 TB (float32 → int8 is 4× less memory per vector,
  * the difference between an index that fits executor RAM and one that
  * doesn't).
  *
  * Symmetric per-dimension int8: scale_d = max|x_d| / 127 over the corpus
  * (one tiny aggregate, collected like a codebook — same shape as the
  * IVF centroid build), q_d = round(x_d / scale_d). Everything else is
  * codegen'd array expressions (transform / zip_with / aggregate) — no
  * UDFs, no shuffle beyond the per-dim max.
  */
object Quantize {

  /** Per-dimension scales: max(|x_d|) / 127 over the corpus. */
  def dimScales(s: SparkSession, dir: String): Array[Double] = {
    import s.implicits._
    Relational.table(s, dir, "embeddings")
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x"))).as("m"))
      .orderBy(col("pos"))
      .select(col("m")).as[Double].collect()
      .map(m => if (m == 0.0) 1.0 else m / 127.0)
  }

  /** Quantized vectors + per-vector reconstruction fidelity:
    * cosine(original, dequantized) and max absolute element error.
    */
  def quantized(s: SparkSession, dir: String): DataFrame = {
    val scales = lit(dimScales(s, dir))
    val e = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scales", scales)
    val q = zip_with(col("e"), col("scales"),
      (x, sc) => round(x / sc, 0).cast("int")) // int8 range by construction
    val deq = zip_with(col("q"), col("scales"), (v, sc) => v * sc)
    e.withColumn("q", q)
      .withColumn("deq", deq)
      .withColumn("cos_fidelity",
        Dedup.dot(col("e"), col("deq")) /
          (Dedup.l2norm(col("e")) * Dedup.l2norm(col("deq"))))
      .withColumn("max_abs_err",
        aggregate(zip_with(col("e"), col("deq"), (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)))
      .select(col("vec_id"), col("q"), round(col("cos_fidelity"), 5).as("cos_fidelity"),
        round(col("max_abs_err"), 5).as("max_abs_err"))
  }

  /** Corpus-level fidelity report (the number you check before switching
    * the ANN index to the quantized representation), from an
    * already-computed (or materialized) quantized frame.
    */
  def quantizeStatsFrom(q: DataFrame): DataFrame =
    q.agg(count(lit(1)).as("n_vectors"),
        round(avg(col("cos_fidelity")), 5).as("avg_cos_fidelity"),
        round(min(col("cos_fidelity")), 5).as("min_cos_fidelity"),
        round(max(col("max_abs_err")), 5).as("max_abs_err"))
}
