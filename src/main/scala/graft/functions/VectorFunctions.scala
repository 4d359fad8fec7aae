package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` columns, built from
  * Catalyst higher-order builtins (`zip_with` + `aggregate`) rather than
  * Scala UDFs, so the expressions stay visible to column pruning /
  * predicate pushdown analysis. They are NOT compiled by whole-stage
  * codegen: `ZipWith`, `ArrayAggregate` and `ArrayTransform` are
  * `CodegenFallback`, so the generated code of the enclosing operator calls
  * back into the interpreted `eval` per row, and each lambda runs
  * interpreted per element. Hot paths use the native kernels instead
  * (e.g. [[SquaredL2]]).
  *
  * Used by the similarity-search operators (SURVEY.md §2.6) over
  * `embeddings.embedding` (64-dim float vectors).
  */
object VectorFunctions {

  /** Cast an array<float> column to array<double> for stable accumulation. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product of two numeric array columns (accumulates in double,
    * sequential left fold — deterministic order of addition). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Sign-bit signature against `planes` fixed hyperplanes: bit i is set when
    * dot(v, plane_i) >= 0. Deterministic planes are derived from the seed via
    * a splitmix64-style integer mix (no RNG state, stable across JVMs).
    * Used to bucket vectors for LSH-based approximate nearest neighbours:
    * two vectors with high cosine similarity agree on most sign bits, so
    * grouping by (or prefix-matching on) the signature turns an O(n^2)
    * all-pairs cosine into a per-bucket join — the 100 TB scale path.
    */
  def hyperplaneSignature(v: Column, planes: Int = 16, dim: Int = 64,
                          seed: Long = 42L): Column = {
    val vd = toDouble(v)
    val bits: Seq[Column] = (0 until planes).map { i =>
      val planeCol = typedLit(plane(i, dim, seed))
      val d = dot(vd, planeCol)
      when(d >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).as("hp_signature")
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Plane i of the deterministic ±1 hyperplane family — a compile-time
    * constant matrix (seed fixed), so an oracle in ANY engine can embed the
    * same planes as literals. */
  def plane(i: Int, dim: Int = 64, seed: Long = 42L): Seq[Double] =
    (0 until dim).map { j =>
      if (mix(seed * 0x100000001B3L + i * 8191L + j) < 0) -1.0 else 1.0
    }

  /** Engine-portable hyperplane signature: the sign decision is taken on a
    * DECIMAL(38,9) sum of 9dp-rounded per-dimension contributions (±x_j),
    * which is order-independent and bit-reproducible in any engine with
    * exact decimal arithmetic — the v16 JL-projection discipline applied to
    * the LSH bit. The float path ([[hyperplaneSignature]]) keeps the tight
    * codegen'd loop for in-engine-only bucketing; this variant exists so the
    * v02/v03/v05 candidate generation is DuckDB-oracle-checkable end to end.
    * Same O(planes·dim) per-row cost, no shuffle. */
  def hyperplaneSignatureExact(v: Column, planes: Int = 16, dim: Int = 64,
                               seed: Long = 42L): Column = {
    val vd = toDouble(v)
    // |contribution| < 10^4 and |sum| < 10^6 for any sane embedding, so
    // DECIMAL(20,9) holds every intermediate exactly; the explicit cast in
    // the fold pins the accumulator type (Spark's decimal `+` widens the
    // result type, which the higher-order fold rejects) without ever
    // rounding — scale stays 9 throughout, identical to the oracle's
    // order-independent SUM(DECIMAL(38,9)).
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(20,9)")
    // Domain guard on the ROUNDED contribution (r15 advice): a double in
    // [10⁴ − 5e-10, 10⁴) HALF_UP-rounds to 10000.000000000, which needs 14
    // digits — under ANSI the bare DECIMAL(13,9) cast would THROW there,
    // not null. Guarding on round(x·p, 9) makes the out-of-domain term an
    // explicit null, which poisons the plane sums to the 0 branch — the
    // same verdict the native kernel takes on the same rounded value, so
    // the two forms agree on every input instead of only inside the
    // domain. (Embedding fixtures never leave |x| < 10; this is edge
    // hygiene, not a fixture behavior change.)
    val bits: Seq[Column] = (0 until planes).map { i =>
      val planeCol = typedLit(plane(i, dim, seed))
      val d = aggregate(
        zip_with(vd, planeCol, (x, p) => {
          val r = round(x * p, 9)
          when(abs(r) < 1e4, r).otherwise(lit(null)).cast("decimal(13,9)")
        }),
        zero, (acc, x) => (acc + x).cast("decimal(20,9)"))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).as("hp_signature")
  }

  /** DuckDB CTE fragment computing [[hyperplaneSignatureExact]] for every
    * embeddings row — program-generated from the same plane constants so
    * the two engines can never drift. Emits CTEs `hp_planes(i, j, sgn)`,
    * `hp_dims(vec_id, j, x)` and `hp_sigs(vec_id, sig)`; append after a
    * leading `WITH `. */
  def hyperplaneSignatureExactCtes(planes: Int = 16, dim: Int = 64,
                                   seed: Long = 42L,
                                   source: String = "embeddings"): String = {
    val values = (0 until planes).map { i =>
      val lst = plane(i, dim, seed).map(p =>
        if (p < 0) "-1.0" else "1.0").mkString("[", ",", "]")
      s"($i, $lst::DOUBLE[])"
    }.mkString(",\n    ")
    s"""hp_planes AS (
       |  SELECT i, generate_subscripts(sgns, 1) AS j, unnest(sgns) AS sgn
       |  FROM (VALUES
       |    $values) pl(i, sgns)),
       |hp_dims AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
       |         generate_subscripts(embedding, 1) AS j
       |  FROM $source),
       |hp_persig AS (
       |  SELECT vec_id, i,
       |    sum(CAST(round(x * sgn, 9) AS DECIMAL(38,9))) AS dsum
       |  FROM hp_dims JOIN hp_planes USING (j) GROUP BY vec_id, i),
       |hp_sigs AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dsum >= 0 THEN CAST(1 AS BIGINT) << i
       |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |  FROM hp_persig GROUP BY vec_id)""".stripMargin
  }
}
