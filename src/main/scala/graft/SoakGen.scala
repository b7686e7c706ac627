package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× (or `factor`×) scale-up of a testdata directory,
  * for the scale sets of [[BenchFamilies]]: every fact table becomes `factor`
  * key-shifted replicas whose foreign keys stay consistent (one global
  * id offset per replica, applied to every int64 id column), while the
  * fixed dimensions (region, nation) copy through unchanged — the
  * TPC-H scaling convention.
  *
  * Content columns are PERTURBED per replica so the scaled corpus
  * behaves like more data, not like `factor` exact copies (which would
  * turn every dedup/similarity query into a pathological
  * everything-matches workload that measures duplicate structure, not
  * scale):
  *   - `documents.text`: letters Caesar-rotate by the replica index
  *     (a bijection — token counts, lengths, Zipf shape, and n-gram
  *     structure are preserved within each replica; replicas share no
  *     vocabulary, so cross-replica duplicate pairs don't explode);
  *   - `embeddings.embedding`: circular dimension shift by the replica
  *     index (norms and pairwise-distance DISTRIBUTIONS preserved;
  *     replicas are not mutual near-duplicates);
  *   - `customer.c_name`: the last-4 digits (the record-linkage
  *     blocking window, `substring(c_name, 15, 4)`) are recoded to
  *     `base36(r·10⁴ + last4)` — injective over (replica, last4), so
  *     every replica's blocks land in a DISJOINT key space and block
  *     sizes stay EXACTLY base-sized as the corpus scales. Without
  *     this, 10 replicas pile onto the same 10⁴ digit blocks, blocks
  *     grow 10× per side, and the linkage soak either explodes
  *     quadratically or (worse) silently drops blocks past `maxBlock`
  *     and times a truncated join — the r12 advisory's finding.
  *
  * Everything is seed-free arithmetic: same input → same bytes out.
  */
object SoakGen {

  /** One offset shared by every int64 id column — far above any key in
    * the source tables, so replica key ranges never collide and
    * per-table (lo, hi) id spans stay well inside the integer-bucket
    * guards.
    */
  val IdOffset = 100000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"

  private def rot(r: Int): (String, String) = {
    val k = ((r % 26) + 26) % 26
    val lo = lower.drop(k) + lower.take(k)
    (lower + lower.toUpperCase, lo + lo.toUpperCase)
  }

  /** The per-replica transform for one table. `idCols` are the int64
    * key columns that shift by `r * IdOffset`.
    */
  private[graft] def replica(df: DataFrame, name: String, r: Int): DataFrame = {
    val idCols: Seq[String] = name match {
      case "customer" => Seq("c_custkey")
      case "orders" => Seq("o_orderkey", "o_custkey")
      case "lineitem" => Seq("l_orderkey", "l_partkey", "l_suppkey")
      case "part" => Seq("p_partkey")
      case "supplier" => Seq("s_suppkey")
      case "events" => Seq("event_id", "user_id")
      case "documents" => Seq("doc_id")
      case "embeddings" => Seq("vec_id")
      case _ => Seq.empty
    }
    val shifted = idCols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c) + lit(r * IdOffset)))
    name match {
      case "customer" =>
        // recode the blocking window for EVERY replica (incl. r=0:
        // base36 of a value >= 10^4 can be all-digit — e.g. 46656 →
        // "1000" — so leaving replica 0 in raw digits would collide)
        val v = (col("c_custkey") % 10000L) + lit(r * 10000L)
        // NB: functions.lower is shadowed by the rotation alphabet val
        shifted.withColumn("c_name",
          concat(substring(col("c_name"), 1, 14),
            lpad(org.apache.spark.sql.functions.lower(
              conv(v.cast("string"), 10, 36)), 4, "0")))
      case "documents" if r > 0 =>
        val (from, to) = rot(r)
        shifted.withColumn("text", translate(col("text"), from, to))
      case "embeddings" if r > 0 =>
        // rotate by r MOD dim: factor may exceed a small embedding
        // dimension, and a raw `slice(_, r+1, dim-r)` with r >= dim
        // would fail at runtime on a negative length
        val dim = size(col("embedding"))
        val k = pmod(lit(r), dim)
        shifted.withColumn("embedding",
          concat(
            slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), lit(1), k)))
      case _ => shifted
    }
  }

  def generate(
      spark: SparkSession, srcDir: String, dstDir: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // replica 26 would Caesar-rotate by 26 % 26 = 0 — an EXACT text
    // copy of replica 0, reintroducing the duplicate-structure
    // pathology the rotation exists to avoid
    require(factor <= 26,
      s"factor $factor > 26: Caesar rotations repeat and replicas " +
        "would share exact text; widen the perturbation first")
    val fixed = Seq("region", "nation")
    val scaled = Seq("customer", "orders", "lineitem", "part", "supplier",
      "events", "documents", "embeddings")
    fixed.foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
    scaled.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val out = (0 until factor).map(replica(src, t, _)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      System.err.println(s"[soakgen] $t x$factor written")
    }
  }
}
