package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star surface):
  * brute-force cosine top-k as the exactness baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * The query vector is taken from the data itself (vec_id = 0) so the
  * queries are deterministic at every scale factor without external input.
  *
  * 100-TB notes: brute-force top-k is scan → per-partition heap top-k →
  * k-row driver merge (`TakeOrderedAndProject`) — O(k) memory at any scale,
  * but reads every vector. The LSH path buckets vectors by hyperplane sign
  * bits (map-side, no shuffle to build), and probes only the query's bucket
  * (+ optional hamming-1 neighbors): a partition-pruned equi-lookup instead
  * of a full scan. Hyperplane components derive from an LCG of (plane, dim)
  * — deterministic across the cluster, no driver-side randomness to ship,
  * and reproducible by the DuckDB oracle.
  */
object Similarity {

  /** embeddings with the vector cast to double + its L2 norm (norm via the
    * native codegen'd vec_dot — graft.functions.DotProduct). */
  private[queries] def normed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.vecDot
    Tables.embeddings(s, dir)
      .select($"vec_id", $"label", expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(vecDot($"v", $"v")))
  }

  private val Planes = 6 // 64 buckets

  /** Collect a provably tiny DERIVED frame (codebooks, centroids, seeds,
    * LUTs — O(K·M) rows by construction, never corpus-sized) and replay it
    * as a local relation. The aggregation pipeline that produced it then
    * runs ONCE per query instead of once per downstream plan reference
    * (guide §1.2/§2.4: the round-17 baseline plan of q178 held 78 Exchanges
    * and 36 scans because every reference to the codebook/centroid frames
    * re-embedded their full derivation subtree). Values round-trip in
    * memory — no text conversion — so doubles are bit-identical and every
    * oracle hash is unchanged. The collect is bounded exactly like the
    * probe-label collect q176 has always done (O(K·M) rows ≪ a broadcast). */
  private[queries] def smallLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Run two independent materialization jobs concurrently (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — the codebook and centroid trainings share no state, so
    * the second job's tasks back-fill executors freed by the first's tail). */
  private def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val spark = SparkSession.active
    val sc = spark.sparkContext
    // pool threads carry no caller state: each job runs under the
    // caller's session, job group and description
    val props = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")
      .map(k => k -> sc.getLocalProperty(k))
    def asCaller(x: => Any): () => Any = () => {
      SparkSession.setActiveSession(spark)
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      x
    }
    val Seq(a, b) = graft.DriverPool.all(Seq(asCaller(fa), asCaller(fb)))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }

  /** PQ training shared by q172 (in-query), q176 (persisted index table)
    * and q178 (residual space): M=4 × 16-dim subspaces, K=4 codewords per
    * subspace from one deterministic Lloyd step (seeds = subvectors of
    * vec_id 0..3), means through the DECIMAL(25,9) discipline —
    * bit-identical to the DuckDB oracle's replay. */
  private[queries] def pqSubvectors(e: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    e.select($"vec_id", posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m * 16 + 1, 16))")))
      .select($"vec_id", $"pos".as("sub"), $"col".as("sv"))
  }

  /** Codeword set (sub, code, cw, cc) collected to the driver — the literal
    * form every map-side argmin/ADC expression builds from. */
  private[queries] case class Codeword(sub: Int, code: Int, cw: Seq[Double], cc: Double)

  private[queries] def collectCodewords(cb: DataFrame): Seq[Codeword] =
    cb.select(col("sub"), col("code"), col("cw"), col("cc")).collect().toSeq
      .map(r => Codeword(r.getInt(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(c => (c.sub, c.code))

  /** Map-side nearest-codeword selection for the 16-dim subvector `sv` of
    * subspace `sub`, against literal codewords: d2 = sv·sv − 2·sv·cw + cc
    * with the identical IEEE op order as the former join+groupBy argmin,
    * ties → lowest code via least(struct(d2, code)) — the same comparator
    * as min(struct(d2, code)). K is 4: the argmin that used to cost a
    * K-way broadcast-join fan-out plus a (vec, sub)-keyed shuffle is pure
    * whole-stage-codegen expression work (guide §2.4: remove the shuffle
    * outright — assignment against a broadcast-sized codebook never needed
    * one; this is the standard distributed-quantization shape at any
    * scale). */
  private def nearestCode(cws: Seq[Codeword], sub: Column, sv: Column): Column = {
    import graft.functions.VectorFunctions.vecDot
    val bySub = cws.groupBy(_.sub).toSeq.sortBy(_._1)
    val armed = bySub.map { case (sIdx, cands) =>
      val structs = cands.sortBy(_.code).map { c =>
        struct((vecDot(sv, sv) - lit(2.0) * vecDot(sv, typedLit(c.cw)) + lit(c.cc)).as("d2"),
          lit(c.code).as("code"))
      }
      (sIdx, least(structs: _*).getField("code"))
    }
    if (armed.size == 1) armed.head._2 // caller already fixed the subspace
    else armed.tail.foldLeft(when(sub === lit(armed.head._1), armed.head._2)) {
      case (acc, (sIdx, sel)) => acc.when(sub === lit(sIdx), sel)
    }
  }

  private[queries] def pqCodebook(e: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    import graft.functions.VectorFunctions.vecDot
    val sub = pqSubvectors(e)
    // seeds are K·M = 16 rows by construction (vec_id < 4 × 4 subspaces):
    // collect once and assign map-side instead of join + (vec, sub) shuffle
    val seeds = collectCodewords(smallLocal(
      sub.filter($"vec_id" < 4)
        .select($"sub", $"vec_id".cast("int").as("code"), $"sv".as("cw"))
        .withColumn("cc", vecDot($"cw", $"cw"))))
    val assigned = sub
      .select($"sub", nearestCode(seeds, $"sub", $"sv").as("code"), $"sv")
    assigned.select($"sub", $"code", posexplode($"sv"))
      .groupBy($"sub", $"code", $"pos")
      .agg((sum($"col".cast("decimal(25,9)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy($"sub", $"code")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"sub", $"code", expr("transform(pm, x -> x.m)").as("cw"))
      .withColumn("cc", vecDot($"cw", $"cw"))
  }

  /** PQ codes per (vec_id, sub) against literal trained codewords — pure
    * map-side expression work over the subvector stream (no join, no
    * shuffle; see nearestCode). */
  private[queries] def pqEncode(e: DataFrame, cws: Seq[Codeword]): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    pqSubvectors(e).select($"vec_id", $"sub",
      nearestCode(cws, $"sub", $"sv").as("code"))
  }

  /** IVF coarse centroids: exact decimal element-wise mean per label. */
  private[queries] def ivfCentroids(e: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    e.select($"label", posexplode($"v"))
      .groupBy($"label", $"pos")
      .agg((sum($"col".cast("decimal(25,9)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy($"label").agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"label".as("c_label"), expr("transform(pm, x -> x.m)").as("centroid"))
  }

  /** Asymmetric-distance lookup table for the query vector: per (sub,
    * code), the L2 distance ||q_m − cw||², as a dense [sub][code] array of
    * literals. Built by a LOCAL spark job over the two already-collected
    * tiny frames (so every double op is the same vecDot codegen the old
    * broadcast-join LUT ran — bit-identical pd values), then collected:
    * K×M = 16 doubles. The ADC estimate then needs no join at all. */
  private[queries] def pqLutArr(q: DataFrame, codebook: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val s = q.sparkSession; import s.implicits._
    import graft.functions.VectorFunctions.vecDot
    val qsub = q.select(posexplode(expr(
        "transform(sequence(0, 3), m -> slice(qv, m * 16 + 1, 16))")))
      .select($"pos".as("sub"), $"col".as("qsv"))
    val pd = codebook.join(qsub, Seq("sub"))
      .select($"sub", $"code",
        (vecDot($"qsv", $"qsv") - lit(2.0) * vecDot($"qsv", $"cw") + $"cc")
          .as("pd"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    (0 until 4).map(m => (0 until 4).map(k => pd((m, k))))
  }

  /** ADC estimate over literal LUTs: est = Σ_m round(pd[m][code_m], 9) as
    * an exact DECIMAL(25,9) sum (4 addends — associativity-free, the same
    * value the former sum() aggregate produced), cast to double last. The
    * per-row codes come from `nearestCode` on the row's own subvectors, so
    * candidate scoring is one scan + projection: no posexplode, no
    * broadcast-join, no (vec_id)-keyed aggregation. */
  private def adcEst(cws: Seq[Codeword], lut: IndexedSeq[IndexedSeq[Double]],
                     v: Column): Column = {
    val terms = (0 until 4).map { m =>
      val sv = slice(v, m * 16 + 1, 16)
      val code = nearestCode(cws.filter(_.sub == m), lit(m), sv)
      round(element_at(typedLit(lut(m)), code + lit(1)), 9).cast("decimal(25,9)")
    }
    terms.reduce(_ + _).cast("double")
  }

  /** Sign-bit bucket id from `Planes` pseudo-random hyperplanes.
    * Plane p's d-th component is ±1 from bit 15 of a classic LCG of the
    * flat index p*64+d — deterministic, computed inline per row (nothing
    * broadcast), and plain integer arithmetic, so the DuckDB oracle
    * rebuilds the identical buckets (xxhash64 would be spec-only). The
    * inner dot folds in index order — the same left fold DuckDB's
    * list_reduce performs — so bucket signs are bit-identical across
    * engines. */
  private[queries] def lshBucket(v: Column): Column =
    expr(s"""aggregate(
      transform(sequence(0, ${Planes - 1}), p ->
        if(aggregate(zip_with(v, sequence(0, size(v) - 1),
             (x, d) -> if((shiftright((1103515245L * (p * 64 + d) + 12345L) % 2147483648L, 15) & 1) = 0, x, -x)),
           0d, (acc, x) -> acc + x) > 0d, shiftleft(1, p), 0)),
      0, (acc, x) -> acc + x)""")

  /** q176's persisted index table, one per (JVM, testdata dir). */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.table.GraftTable]()

  /** The DuckDB replay of the full IVF-PQ pipeline — shared by q172 (the
    * in-query pipeline) and q176 (the persisted index probe): both compute
    * the same top-10, so one oracle hash-checks both plans. */
  private val ivfPqOracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |sub AS (
      |  SELECT vec_id, m.m AS sub, v[(m.m*16+1):(m.m*16+16)] AS sv
      |  FROM e, (SELECT unnest(range(4)) AS m) m),
      |seeds AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cw
      |          FROM sub WHERE vec_id < 4),
      |a1 AS (
      |  SELECT vec_id, sub, code, sv FROM (
      |    SELECT s.vec_id, s.sub, d.code, s.sv,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub
      |                         ORDER BY list_inner_product(s.sv, s.sv)
      |                           - 2.0 * list_inner_product(s.sv, d.cw)
      |                           + list_inner_product(d.cw, d.cw), d.code) AS rn
      |    FROM sub s JOIN seeds d ON s.sub = d.sub)
      |  WHERE rn = 1),
      |cbm AS (
      |  SELECT sub, code, i AS pos, CAST(SUM(CAST(sv[i] AS DECIMAL(25,9))) AS DOUBLE)
      |         / COUNT(*) AS m
      |  FROM a1, (SELECT unnest(range(1, 17)) AS i)
      |  GROUP BY 1, 2, 3),
      |cb AS (SELECT sub, code, list(m ORDER BY pos) AS cw FROM cbm GROUP BY 1, 2),
      |cbn AS (SELECT sub, code, cw, list_inner_product(cw, cw) AS cc FROM cb),
      |codes AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT s.vec_id, s.sub, c.code,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub
      |                         ORDER BY list_inner_product(s.sv, s.sv)
      |                           - 2.0 * list_inner_product(s.sv, c.cw) + c.cc,
      |                         c.code) AS rn
      |    FROM sub s JOIN cbn c ON s.sub = c.sub)
      |  WHERE rn = 1),
      |cm AS (
      |  SELECT label, i AS pos, CAST(SUM(CAST(v[i] AS DECIMAL(25,9))) AS DOUBLE)
      |         / COUNT(*) AS m
      |  FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
      |cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS centroid
      |         FROM cm GROUP BY 1),
      |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
      |probes AS (
      |  SELECT c_label FROM cent, q
      |  ORDER BY list_inner_product(centroid, qv) DESC, c_label LIMIT 2),
      |qsub AS (
      |  SELECT m.m AS sub, qv[(m.m*16+1):(m.m*16+16)] AS qsv
      |  FROM q, (SELECT unnest(range(4)) AS m) m),
      |lut AS (
      |  SELECT c.sub, c.code,
      |    list_inner_product(s.qsv, s.qsv) - 2.0 * list_inner_product(s.qsv, c.cw)
      |      + c.cc AS pd
      |  FROM cbn c JOIN qsub s ON c.sub = s.sub),
      |cand AS (
      |  SELECT n.vec_id,
      |    CAST(SUM(CAST(round(l.pd, 9) AS DECIMAL(25,9))) AS DOUBLE) AS est
      |  FROM n JOIN probes p ON n.label = p.c_label
      |  JOIN codes k ON k.vec_id = n.vec_id
      |  JOIN lut l ON l.sub = k.sub AND l.code = k.code
      |  WHERE n.vec_id <> 0
      |  GROUP BY n.vec_id
      |  ORDER BY est, n.vec_id LIMIT 25)
      |SELECT n.vec_id, n.label, round(cand.est, 6) AS adc_est,
      |  round(list_inner_product(n.v, q.qv) / (n.nrm * q.qn), 6) AS cos_sim
      |FROM cand JOIN n ON n.vec_id = cand.vec_id, q
      |ORDER BY cos_sim DESC, n.vec_id LIMIT 10""".stripMargin

  val all: Seq[(String, Q)] = Seq(

    // ---- Brute-force cosine top-k --------------------------------------------
    "q50_knn_brute" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = normed(s, dir)
        val q = e.filter($"vec_id" === 0)
          .select($"v".as("qv"), $"nrm".as("qn"))
        e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("dot", graft.functions.VectorFunctions.vecDot($"v", $"qv"))
          .withColumn("cos_sim", round($"dot" / ($"nrm" * $"qn"), 6))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
          .select($"vec_id", $"label", $"cos_sim")
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_inner_product(v, qv) / (nrm * qn), 6) AS cos_sim
        |FROM n, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    // ---- Centroid stats per label (embedding aggregation) ----------------------
    // Element-wise mean vector per label via posexplode → (label, dim)
    // partial sums: one narrow shuffle of label x dim rows. Exactness: each
    // element is normalized to DECIMAL(25,9) per row (same rounding in both
    // engines), summed exactly in decimal (order-independent), and the
    // decimal total — exactly representable as a double at these magnitudes —
    // is divided once in double by the exact count. No order-dependent
    // double accumulation remains, so the query is oracle-checked like every
    // other aggregate (the Exact.dec discipline, at embedding precision).
    "q52_label_centroids" -> Q(
      (s, dir) => {
        import s.implicits._
        val dims = normed(s, dir)
          .select($"label", posexplode($"v"))
          .groupBy($"label", $"pos")
          .agg(sum($"col".cast("decimal(25,9)")).cast("double").as("s"),
               count(lit(1)).as("n"))
        dims.groupBy($"label")
          .agg(count(lit(1)).as("n_dims"),
               round(max($"s" / $"n"), 6).as("max_mean_dim"),
               round(min($"s" / $"n"), 6).as("min_mean_dim"))
          .orderBy($"label")
      },
      """WITH e AS (
        |  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT label, i AS pos, CAST(v[i] AS DECIMAL(25,9)) AS c
        |  FROM e, (SELECT unnest(range(1, 65)) AS i)),
        |dims AS (
        |  SELECT label, pos, CAST(SUM(c) AS DOUBLE) AS s, COUNT(*) AS n
        |  FROM d GROUP BY 1, 2)
        |SELECT label, COUNT(*) AS n_dims,
        |  round(MAX(s / n), 6) AS max_mean_dim,
        |  round(MIN(s / n), 6) AS min_mean_dim
        |FROM dims GROUP BY label ORDER BY label""".stripMargin),

    // ---- LSH-bucketed ANN (scale path) ------------------------------------------
    // Probes only the query vector's bucket. Oracle-checked since round 3:
    // the LCG hyperplanes are plain integer arithmetic, so DuckDB rebuilds
    // the identical buckets and ranking. Recall semantics stay spec-checked
    // (recall@10 on planted neighbors).
    "q51_ann_lsh" -> Q(
      (s, dir) => {
        import s.implicits._
        // NOT materialized (round 17, measured): the query branch's bucket
        // fold evaluates for one pushed-down row only, so the two scans
        // overlap on n + 1 bucket folds — a localCheckpoint paid more in
        // materialization than it saved (0.76 s → 0.80 s)
        val e = normed(s, dir).withColumn("bucket", lshBucket($"v"))
        val q = e.filter($"vec_id" === 0)
          .select($"v".as("qv"), $"nrm".as("qn"), $"bucket".as("qbucket"))
        e.filter($"vec_id" =!= 0)
          .join(broadcast(q), $"bucket" === $"qbucket")
          .withColumn("dot", graft.functions.VectorFunctions.vecDot($"v", $"qv"))
          .withColumn("cos_sim", round($"dot" / ($"nrm" * $"qn"), 6))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
          // bucket is a small int in Spark but the DuckDB twin's list_sum
          // yields HUGEINT; pin both sides to int64 for the hash compare
          .select($"vec_id", $"label", $"bucket".cast("bigint").as("bucket"), $"cos_sim")
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |bkt AS (
        |  SELECT vec_id, label, v, nrm,
        |    CAST(list_sum([CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        [CASE WHEN (((CAST(1103515245 AS BIGINT) * (p * 64 + d) + 12345) % 2147483648) >> 15) & 1 = 0
        |              THEN v[d + 1] ELSE -v[d + 1] END
        |         FOR d IN range(64)]),
        |        (acc, x) -> acc + x) > 0
        |      THEN (1 << p) ELSE 0 END FOR p IN range(6)]) AS BIGINT) AS bucket
        |  FROM n),
        |q AS (SELECT v AS qv, nrm AS qn, bucket AS qb FROM bkt WHERE vec_id = 0)
        |SELECT vec_id, label, bucket, round(list_inner_product(v, qv) / (nrm * qn), 6) AS cos_sim
        |FROM bkt, q WHERE vec_id <> 0 AND bucket = qb
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    // ---- IVF-probe ANN (coarse quantizer + nprobe=1) ------------------------------
    // Inverted-file search: centroids from one aggregation pass (mean vector
    // per label — the coarse quantizer), the query probes only its nearest
    // centroid's list. At scale the lists are Hive partitions of a vector
    // table and probing is partition pruning. Oracle-checked since round 3:
    // centroid means go through the DECIMAL(25,9) discipline (q52's), so
    // the probe choice and ranking are deterministic cross-engine.
    // Spec-checked recall vs q50.
    "q53_ann_ivf" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        val e = normed(s, dir)
        // coarse quantizer: element-wise mean per label (one narrow shuffle;
        // exact decimal sum, one double division — order-independent).
        // NOT rewritten onto smallLocal/literal probes (round 17, measured):
        // every subtree here is referenced once, so splitting the single
        // action into collect jobs added fixed job overhead for nothing
        // (0.63 s → 0.81 s) — the q172/q176/q178 materialization only pays
        // where training frames feed MULTIPLE plan references.
        val centroids = ivfCentroids(e)
        val q = e.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
        // probe = nearest centroid to the query (tiny cross join, k rows)
        val probe = centroids.crossJoin(broadcast(q))
          .withColumn("cd", vecDot($"centroid", $"qv"))
          .orderBy($"cd".desc, $"c_label").limit(1)
          .select($"c_label", $"qv", $"qn")
        // scan ONLY the probed inverted list
        e.filter($"vec_id" =!= 0)
          .join(broadcast(probe), $"label" === $"c_label")
          .withColumn("cos_sim", round(vecDot($"v", $"qv") / ($"nrm" * $"qn"), 6))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
          .select($"vec_id", $"label", $"cos_sim")
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |d AS (
        |  SELECT label, i AS pos, CAST(v[i] AS DECIMAL(25,9)) AS c
        |  FROM e, (SELECT unnest(range(1, 65)) AS i)),
        |cm AS (SELECT label, pos, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS m
        |       FROM d GROUP BY 1, 2),
        |cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS centroid FROM cm GROUP BY 1),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
        |probe AS (
        |  SELECT c_label FROM cent, q
        |  ORDER BY list_inner_product(centroid, qv) DESC, c_label LIMIT 1)
        |SELECT vec_id, label, round(list_inner_product(v, qv) / (nrm * qn), 6) AS cos_sim
        |FROM n, q, probe WHERE vec_id <> 0 AND label = c_label
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    // ---- Int8 scalar quantization + reconstruction quality -----------------------
    // The vector-compression step a 100-TB ANN index runs before anything
    // else: per-vector symmetric int8 quantization (scale = 127/max|x|),
    // 4x smaller than float32 — which is the difference between an index
    // that fits executor memory and one that doesn't. Pure map-side
    // expression work, no shuffle except the output sort. The quality gate
    // is the cosine between the original and its dequantized self; all
    // arithmetic (round → clamp → int cast; index-order dot folds) is
    // bit-identical in DuckDB, so compression AND its error measurement are
    // oracle-checked.
    "q95_embedding_quantize" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        Tables.embeddings(s, dir)
          .select($"vec_id", $"label",
            expr("transform(embedding, x -> cast(x as double))").as("v"))
          .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
          .filter($"mx" > 0d)
          .withColumn("qv", expr(
            "transform(v, x -> cast(greatest(-127.0d, least(127.0d, round(x * (127.0d / mx)))) as int))"))
          .withColumn("dv", expr("transform(qv, q -> q / (127.0d / mx))"))
          .select($"vec_id", $"label",
            expr("size(filter(qv, q -> abs(q) = 127))").as("n_sat"),
            expr("array_max(transform(qv, q -> abs(q)))").as("max_abs_q"),
            round(vecDot($"v", $"dv") /
              (sqrt(vecDot($"v", $"v")) * sqrt(vecDot($"dv", $"dv"))), 6).as("recon_cos"))
          .orderBy($"vec_id")
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |        list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |qq AS (
        |  SELECT vec_id, label, v, mx,
        |    list_transform(v, x -> CAST(greatest(-127.0, least(127.0, round(x * (127.0 / mx)))) AS INTEGER)) AS qv
        |  FROM m WHERE mx > 0),
        |dq AS (SELECT vec_id, label, v, qv,
        |         list_transform(qv, q -> q / (127.0 / mx)) AS dv FROM qq)
        |SELECT vec_id, label,
        |  len(list_filter(qv, q -> abs(q) = 127)) AS n_sat,
        |  list_max(list_transform(qv, q -> abs(q))) AS max_abs_q,
        |  round(list_inner_product(v, dv) /
        |        (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(dv, dv))), 6) AS recon_cos
        |FROM dq ORDER BY vec_id""".stripMargin),

    // ---- k-means clustering (2 Lloyd iterations, k=4) ------------------------------
    // The semantic-clustering primitive behind cluster-balanced sampling
    // and SemDeDup-style curation: deterministic seeding (vectors 0..k-1),
    // two unrolled assign→update rounds, then per-cluster size + inertia.
    // Scale shape per iteration: assignment is a BROADCAST of k centroids
    // over the vector scan (map-side argmin via min(struct(d2, cid)) with
    // partial aggregation — one row per vector reaches the shuffle), and
    // the update is the q52/q53 narrow (cid, dim) decimal-mean shuffle.
    // Nothing is ever all-pairs; per-iteration cost is O(n·k·dim) map work
    // + one narrow agg, the textbook distributed-k-means plan.
    // Determinism: d2 = vv − 2·v·c + cc uses the codegen'd vec_dot (left
    // fold, same order as DuckDB's list_inner_product); centroid means go
    // through DECIMAL(25,9) sums; inertia decimal-sums 9dp-rounded d2 —
    // every double op is the same IEEE op in the same order cross-engine,
    // so the full clustering (sizes AND inertia) is hash-checked.
    "q116_kmeans" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        val e = normed(s, dir).select($"vec_id", $"v")
          .withColumn("vv", vecDot($"v", $"v"))
        // Round-17 optimization (guide §2.4): k = 4 centroids collect to
        // the driver (the broadcast-sized side of the old crossJoin) and
        // assignment becomes a map-side least(struct(d2, cid)) over literal
        // centroids — the same d2 op order and the same min-struct
        // comparator as the former groupBy(vec_id) argmin, with ZERO
        // per-iteration shuffle of the vectors (the textbook distributed
        // k-means shape: only the narrow (cid, dim) update aggregation
        // exchanges data). Inertia/sizes are bit-identical.
        def assign(cents: Seq[org.apache.spark.sql.Row]): DataFrame = {
          val m = least(cents.sortBy(_.get(0).toString.toLong).map { r =>
            struct(($"vv" - lit(2.0) * vecDot($"v", typedLit(r.getSeq[Double](1))) +
              lit(r.getDouble(2))).as("d2"), lit(r.get(0)).as("cid"))
          }: _*)
          e.withColumn("m", m)
            .select($"vec_id", $"m.cid".as("cid"), $"m.d2".as("d2"), $"v")
        }
        // recompute centroids as exact element-wise decimal means
        def update(assigned: DataFrame): DataFrame =
          assigned.select($"cid", posexplode($"v"))
            .groupBy($"cid", $"pos")
            .agg((sum($"col".cast("decimal(25,9)")).cast("double") / count(lit(1))).as("m"))
            .groupBy($"cid")
            .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
            .select($"cid", expr("transform(pm, x -> x.m)").as("c"))
            .withColumn("cc", vecDot($"c", $"c"))
        val c0 = e.filter($"vec_id" < 4)
          .select($"vec_id".as("cid"), $"v".as("c"), $"vv".as("cc"))
          .collect().toSeq
        val a2 = assign(update(assign(c0)).collect().toSeq)
        a2.groupBy($"cid")
          .agg(count(lit(1)).as("n_members"),
               sum(round($"d2", 9).cast("decimal(25,9)")).cast("double").as("inertia"))
          .orderBy($"cid")
      },
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ev AS (SELECT vec_id, v, list_inner_product(v, v) AS vv FROM e),
        |c0 AS (SELECT vec_id AS cid, v AS c, list_inner_product(v, v) AS cc
        |       FROM e WHERE vec_id < 4),
        |a1 AS (
        |  SELECT vec_id, v, cid, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM (
        |      SELECT ev.vec_id, ev.v, c0.cid,
        |        ev.vv - 2.0 * list_inner_product(ev.v, c0.c) + c0.cc AS d2
        |      FROM ev CROSS JOIN c0))
        |  WHERE rn = 1),
        |d1 AS (SELECT cid, i AS pos, CAST(v[i] AS DECIMAL(25,9)) AS comp
        |       FROM a1, (SELECT unnest(range(1, 65)) AS i)),
        |m1 AS (SELECT cid, pos, CAST(SUM(comp) AS DOUBLE) / COUNT(*) AS m
        |       FROM d1 GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY 1),
        |c1n AS (SELECT cid, c, list_inner_product(c, c) AS cc FROM c1),
        |a2 AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM (
        |      SELECT ev.vec_id, c1n.cid,
        |        ev.vv - 2.0 * list_inner_product(ev.v, c1n.c) + c1n.cc AS d2
        |      FROM ev CROSS JOIN c1n))
        |  WHERE rn = 1)
        |SELECT cid, COUNT(*) AS n_members,
        |  CAST(SUM(CAST(round(d2, 9) AS DECIMAL(25,9))) AS DOUBLE) AS inertia
        |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin),

    // ---- IVF-PQ ANN (product quantization + asymmetric distance + rerank) ---------
    // The 100-TB embedding-store shape: int8 scalar quantization (q95) is
    // 4×; IVF-PQ is 32×+ — vectors live as M=4 one-byte codes (one per
    // 16-dim subspace) in label-partitioned inverted lists, candidates
    // score WITHOUT touching the float vectors (asymmetric distance:
    // query-vs-codeword lookup table, K×M=16 doubles broadcast), and only
    // the top-C make the exact rerank. Codebooks train per subspace with
    // one deterministic Lloyd step (seeds = subvectors of vec_id 0..3 —
    // the q116 machinery, sliced): assignment argmin ties → lowest code,
    // means through the DECIMAL(25,9) discipline, so training, encoding,
    // the ADC estimates (decimal-summed LUT entries — order-free), and
    // the rerank are ALL bit-identical in DuckDB — the full index is
    // oracle-checked, recall is spec-checked (recall@10 vs q50).
    // Scale: training/encoding are one narrow (vec, sub) shuffle; the
    // LUT is O(K·M); candidate scoring is a broadcast-LUT map over the
    // probed lists only; rerank reads C=25 float vectors, not the corpus.
    "q172_ann_ivf_pq" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        // e feeds the codebook training (twice via pqSubvectors), the
        // centroid training, the query row and the candidate scan — cache
        // it once (round 18; guide §1.2)
        val e = Mat.once(normed(s, dir))
        // Round-17 optimization (guide §1.2/§2.4): the tiny derived frames
        // (codebook 16 rows, centroids 4, query 1, LUT 16) are materialized
        // ONCE — the old plan re-embedded their full training subtrees at
        // every reference (40 Exchanges / 22 scans); encoding + ADC scoring
        // are now literal-codebook projections, so the candidate pipeline is
        // one scan → map-side est → TakeOrdered, with identical values at
        // every step (same vecDot op order, same decimal sums).
        // the codebook training and the (query vector → centroid probe)
        // chain are independent jobs — overlap them (guide §2.6)
        val (codebook, (q, probeLabels)) = inParallel(
          smallLocal(pqCodebook(e)), {
            val q = smallLocal(e.filter($"vec_id" === 0)
              .select($"v".as("qv"), $"nrm".as("qn")))
            // IVF coarse layer: label centroids (q53's), probe top-2 for
            // recall; the probe labels collect to the driver (2 ints —
            // bounded like a broadcast, q176's long-standing shape) and
            // prune as literals
            val labels = smallLocal(ivfCentroids(e)).crossJoin(q)
              .withColumn("cd", vecDot($"centroid", $"qv"))
              .orderBy($"cd".desc, $"c_label").limit(2)
              .select($"c_label").collect().map(_.getInt(0)).toSeq
            (q, labels)
          })
        val cws = collectCodewords(codebook)
        val lut = pqLutArr(q, codebook)
        // candidates: probed lists only; est is the exact decimal LUT sum
        // computed per row (adcEst), then top-C=25 by (est, vec_id) — the
        // row keeps v/nrm/label so the rerank needs no join back
        val cand = e.filter($"vec_id" =!= 0 && $"label".isin(probeLabels: _*))
          .withColumn("est", adcEst(cws, lut, $"v"))
          .orderBy($"est", $"vec_id").limit(25)
        // exact rerank of the survivors — 25 float vectors, not the corpus
        cand.crossJoin(q)
          .withColumn("cos_sim", round(vecDot($"v", $"qv") / ($"nrm" * $"qn"), 6))
          .select($"vec_id", $"label", round($"est", 6).as("adc_est"), $"cos_sim")
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      },
      ivfPqOracleSql),

    // ---- Persisted IVF-PQ index table + partition-pruned probe --------------------
    // q172 trains and encodes per query; a 100-TB deployment trains ONCE
    // and stores the codes as a TABLE — this operator materializes the
    // index as a graft table Hive-partitioned by the IVF list (label),
    // with the M=4 PQ codes as flat int columns, and serves the probe by
    // PARTITION PRUNING: the query's top-2 centroid lists resolve to 2
    // partition values, `prunedFiles` drops every other list's files
    // (REQUIREd on each probe), and only the surviving lists' codes meet
    // the broadcast ADC lookup table. This is q53's scale claim ("at
    // scale the lists are Hive partitions and probing is partition
    // pruning") made real — and the same answer as q172's in-query
    // pipeline, hash-checked against the identical DuckDB replay.
    "q176_pq_index_probe" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        // same multi-reference shape as q172 — cache e once (round 18)
        val e = Mat.once(normed(s, dir))
        val t = pqIndexCache.computeIfAbsent(dir, _ => {
          val codes = pqEncode(e, collectCodewords(smallLocal(pqCodebook(e))))
          val wide = codes.groupBy($"vec_id").agg(
            max(when($"sub" === 0, $"code")).as("c0"),
            max(when($"sub" === 1, $"code")).as("c1"),
            max(when($"sub" === 2, $"code")).as("c2"),
            max(when($"sub" === 3, $"code")).as("c3"))
          graft.table.GraftTable.create(s,
            graft.Scratch.dir("graft-pq-index-").toString,
            Tables.embeddings(s, dir).select($"vec_id", $"label").join(wide, "vec_id"),
            partitionBy = Seq("label"))
        })
        // tiny frames materialized once (guide §2.4; see q172) — the
        // codebook training pipeline no longer re-runs inside the LUT
        // branch — and the two independent trainings overlap (guide §2.6)
        val (codebook, (q, probeLabels)) = inParallel(
          smallLocal(pqCodebook(e)), {
            val q = smallLocal(e.filter($"vec_id" === 0)
              .select($"v".as("qv"), $"nrm".as("qn")))
            // top-2 IVF lists collect to the driver (2 ints — bounded like
            // a broadcast) and become partition-pruning literals
            val labels = smallLocal(ivfCentroids(e)).crossJoin(q)
              .withColumn("cd", vecDot($"centroid", $"qv"))
              .orderBy($"cd".desc, $"c_label").limit(2)
              .select($"c_label").collect().map(_.getInt(0)).toSeq
            (q, labels)
          })
        val snap = t.snapshot
        val pred = $"label".isin(probeLabels: _*)
        // the pin runs on EVERY probe (it sits outside the index cache, so a
        // pruning regression surfaces on cache-hit runs too), and checks the
        // surviving files belong ONLY to the probed lists — not merely that
        // some file was dropped
        val pruned = t.prunedFiles(snap, pred)
        val probeSet = probeLabels.map(_.toString).toSet
        require(pruned.size < snap.files.size &&
            pruned.forall(_.partitionValues.get("label").exists(probeSet)),
          s"IVF probe must prune to exactly the probed lists $probeSet: " +
            s"${pruned.size}/${snap.files.size} files, partitions " +
            pruned.flatMap(_.partitionValues.get("label")).distinct.sorted)
        // ADC estimate from the stored codes against the literal LUT — an
        // exact decimal 4-term sum per row (same value as the former
        // explode + broadcast-join + groupBy pipeline), so the probe is
        // scan → projection → TakeOrdered
        val lut = pqLutArr(q, codebook)
        val estCol = Seq($"c0", $"c1", $"c2", $"c3").zipWithIndex.map { case (c, m) =>
            round(element_at(typedLit(lut(m)), c + lit(1)), 9).cast("decimal(25,9)")
          }.reduce(_ + _).cast("double")
        val cand = t.scan(pred)
          .filter($"vec_id" =!= 0)
          .withColumn("est", estCol)
          .select($"vec_id", $"est")
          .orderBy($"est", $"vec_id").limit(25)
        e.join(broadcast(cand), "vec_id")
          .crossJoin(q)
          .withColumn("cos_sim", round(vecDot($"v", $"qv") / ($"nrm" * $"qn"), 6))
          .select($"vec_id", $"label", round($"est", 6).as("adc_est"), $"cos_sim")
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      },
      ivfPqOracleSql),

    // ---- Residual IVF-PQ (Jégou et al. 2011's actual formulation) -----------------
    // q172/q176 quantize RAW vectors; production IVF-PQ quantizes the
    // RESIDUAL v − centroid(list): residuals are centered near zero, so a
    // K-codeword budget spends itself on local structure instead of
    // re-describing the coarse cell — the accuracy step that makes PQ
    // usable at small K. The ADC table becomes PER PROBED LIST (the
    // query's residual differs per centroid): nprobe × K × M = 32
    // doubles, still always broadcast. Everything stays deterministic
    // (decimal centroid/codebook means, IEEE-identical residual
    // subtractions, decimal-summed estimates), so the full residual
    // pipeline is oracle-checked like q172.
    "q178_ann_ivf_pq_residual" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        // e feeds FIVE references (centroid training, the residual frame,
        // the query row, and the candidate scan) and the residual frame
        // two (codebook seeds + assignment aggregation) — cache each once
        // (round 18; guide §1.2)
        val e = Mat.once(normed(s, dir))
        // Round-17 optimization (guide §1.2/§2.4): the baseline plan held 78
        // Exchanges / 36 scans — every reference to centroids, the residual
        // codebook and the per-list LUTs re-embedded their whole training
        // subtree. All tiny frames now materialize once; candidate scoring
        // fuses residual → code → LUT into map-side expressions over the
        // probed lists (values identical op-for-op; see q172).
        val cent = smallLocal(ivfCentroids(e))
        // residual frame: v := v − centroid(own label)
        val rFrame = Mat.once(e.join(broadcast(cent), $"label" === $"c_label")
          .select($"vec_id",
            expr("zip_with(v, centroid, (x, c) -> x - c)").as("v")))
        // the residual codebook training and the (query vector → probe)
        // chain are independent jobs — overlap them (guide §2.6)
        val (codebook, (q, probes)) = inParallel(
          smallLocal(pqCodebook(rFrame)), {
            val q = smallLocal(e.filter($"vec_id" === 0)
              .select($"v".as("qv"), $"nrm".as("qn")))
            val probes = smallLocal(cent.crossJoin(q)
              .withColumn("cd", vecDot($"centroid", $"qv"))
              .orderBy($"cd".desc, $"c_label").limit(2)
              .select($"c_label", $"centroid"))
            (q, probes)
          })
        val cws = collectCodewords(codebook)
        // per-list ADC tables over the query's residual vs THAT centroid —
        // a local job over local relations (identical vecDot ops), then
        // collected: nprobe × K × M = 32 doubles keyed [label][sub][code]
        val qres = probes.crossJoin(q)
          .select($"c_label", posexplode(expr(
            "transform(sequence(0, 3), m -> " +
              "slice(zip_with(qv, centroid, (x, c) -> x - c), m * 16 + 1, 16))")))
          .select($"c_label", $"pos".as("sub"), $"col".as("qsv"))
        val lutByLabel = codebook.join(qres, Seq("sub"))
          .select($"c_label", $"sub", $"code",
            (vecDot($"qsv", $"qsv") - lit(2.0) * vecDot($"qsv", $"cw") + $"cc")
              .as("pd"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (l, rows) =>
            val m = rows.map(r => ((r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
            l -> (0 until 4).map(i => (0 until 4).map(k => m((i, k))))
          }
        val probeLabels = lutByLabel.keys.toSeq.sorted
        // candidates: probed lists only — residual, per-sub code and the
        // per-list LUT sum all computed in one projection over the scan
        val estCol = lutByLabel.toSeq.sortBy(_._1).map { case (l, lut) =>
            (l, (0 until 4).map { m =>
              val sv = slice($"rv", m * 16 + 1, 16)
              val code = nearestCode(cws.filter(_.sub == m), lit(m), sv)
              round(element_at(typedLit(lut(m)), code + lit(1)), 9).cast("decimal(25,9)")
            }.reduce(_ + _).cast("double"))
          } match {
            case Seq((l0, e0), (l1, e1)) => when($"label" === l0, e0).when($"label" === l1, e1)
            case Seq((l0, e0))           => when($"label" === l0, e0)
          }
        val cand = e.filter($"vec_id" =!= 0 && $"label".isin(probeLabels: _*))
          .join(broadcast(probes), $"label" === $"c_label")
          .withColumn("rv", expr("zip_with(v, centroid, (x, c) -> x - c)"))
          .withColumn("est", estCol)
          .select($"vec_id", $"label", $"v", $"nrm", $"est")
          .orderBy($"est", $"vec_id").limit(25)
        cand.crossJoin(q)
          .withColumn("cos_sim", round(vecDot($"v", $"qv") / ($"nrm" * $"qn"), 6))
          .select($"vec_id", $"label", round($"est", 6).as("adc_est"), $"cos_sim")
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |cm AS (
        |  SELECT label, i AS pos, CAST(SUM(CAST(v[i] AS DECIMAL(25,9))) AS DOUBLE)
        |         / COUNT(*) AS m
        |  FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
        |cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS centroid
        |         FROM cm GROUP BY 1),
        |rsub AS (
        |  SELECT e.vec_id, m.m AS sub,
        |    [e.v[i] - c.centroid[i] FOR i IN range(m.m*16+1, m.m*16+17)] AS sv
        |  FROM e JOIN cent c ON e.label = c.c_label,
        |       (SELECT unnest(range(4)) AS m) m),
        |seeds AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cw
        |          FROM rsub WHERE vec_id < 4),
        |a1 AS (
        |  SELECT vec_id, sub, code, sv FROM (
        |    SELECT s.vec_id, s.sub, d.code, s.sv,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sub
        |                         ORDER BY list_inner_product(s.sv, s.sv)
        |                           - 2.0 * list_inner_product(s.sv, d.cw)
        |                           + list_inner_product(d.cw, d.cw), d.code) AS rn
        |    FROM rsub s JOIN seeds d ON s.sub = d.sub)
        |  WHERE rn = 1),
        |cbm AS (
        |  SELECT sub, code, i AS pos, CAST(SUM(CAST(sv[i] AS DECIMAL(25,9))) AS DOUBLE)
        |         / COUNT(*) AS m
        |  FROM a1, (SELECT unnest(range(1, 17)) AS i)
        |  GROUP BY 1, 2, 3),
        |cb AS (SELECT sub, code, list(m ORDER BY pos) AS cw FROM cbm GROUP BY 1, 2),
        |cbn AS (SELECT sub, code, cw, list_inner_product(cw, cw) AS cc FROM cb),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT s.vec_id, s.sub, c.code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sub
        |                         ORDER BY list_inner_product(s.sv, s.sv)
        |                           - 2.0 * list_inner_product(s.sv, c.cw) + c.cc,
        |                         c.code) AS rn
        |    FROM rsub s JOIN cbn c ON s.sub = c.sub)
        |  WHERE rn = 1),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
        |probes AS (
        |  SELECT c_label, centroid FROM cent, q
        |  ORDER BY list_inner_product(centroid, qv) DESC, c_label LIMIT 2),
        |qres AS (
        |  SELECT p.c_label, m.m AS sub,
        |    [q.qv[i] - p.centroid[i] FOR i IN range(m.m*16+1, m.m*16+17)] AS qsv
        |  FROM probes p, q, (SELECT unnest(range(4)) AS m) m),
        |lut AS (
        |  SELECT s.c_label, c.sub, c.code,
        |    list_inner_product(s.qsv, s.qsv) - 2.0 * list_inner_product(s.qsv, c.cw)
        |      + c.cc AS pd
        |  FROM cbn c JOIN qres s ON c.sub = s.sub),
        |cand AS (
        |  SELECT n.vec_id,
        |    CAST(SUM(CAST(round(l.pd, 9) AS DECIMAL(25,9))) AS DOUBLE) AS est
        |  FROM n JOIN probes p ON n.label = p.c_label
        |  JOIN codes k ON k.vec_id = n.vec_id
        |  JOIN lut l ON l.c_label = n.label AND l.sub = k.sub AND l.code = k.code
        |  WHERE n.vec_id <> 0
        |  GROUP BY n.vec_id
        |  ORDER BY est, n.vec_id LIMIT 25)
        |SELECT n.vec_id, n.label, round(cand.est, 6) AS adc_est,
        |  round(list_inner_product(n.v, q.qv) / (n.nrm * q.qn), 6) AS cos_sim
        |FROM cand JOIN n ON n.vec_id = cand.vec_id, q
        |ORDER BY cos_sim DESC, n.vec_id LIMIT 10""".stripMargin),

    // ---- Batch kNN-graph construction (banded candidates, top-3 per vector) -------
    // The similarity-graph builder semantic dedup and cluster-balanced
    // sampling consume: for EVERY vector, its top-3 banded candidates by
    // exact cosine — q50's single-query top-k turned into the all-vectors
    // batch shape. Candidates come from the q45 sign-bit banding in BOTH
    // orientations (never all-pairs: fan-out = bucket occupancy), the
    // rescore is the codegen'd vec_dot, and per-anchor ranking is one
    // window over the candidate lists (partition size = candidates of one
    // anchor). Recall matches the banding's guarantee (near-identical
    // directions); sparse anchors legitimately have < 3 or no edges.
    "q129_knn_graph" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vecDot
        val e = graft.Tables.embeddings(s, dir)
          .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
        val bits = e.withColumn("bits", expr("transform(v, x -> if(x > 0d, 1, 0))"))
        // banded feeds both sides of the self-join — materialize once
        val banded = bits.select($"vec_id",
            posexplode(expr("transform(sequence(0, 3), b -> slice(bits, b * 16 + 1, 16))")))
          .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_bits"))
          .transform(Mat.once)
        val cand = banded.select($"band", $"band_bits", $"vec_id".as("anchor"))
          .join(banded.select($"band", $"band_bits", $"vec_id".as("nb")),
            Seq("band", "band_bits"))
          .filter($"anchor" =!= $"nb")
          .select($"anchor", $"nb").distinct()
        val n = e.withColumn("nrm", sqrt(vecDot($"v", $"v")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"anchor").orderBy($"cos_sim".desc, $"nb")
        cand
          .join(n.select($"vec_id".as("anchor"), $"v".as("va"), $"nrm".as("na")), "anchor")
          .join(n.select($"vec_id".as("nb"), $"v".as("vb"), $"nrm".as("nn")), "nb")
          .withColumn("cos_sim", round(vecDot($"va", $"vb") / ($"na" * $"nn"), 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"anchor", $"rk".cast("long").as("rk"), $"nb".as("neighbor"), $"cos_sim")
          .orderBy($"anchor", $"rk")
      },
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id, list_transform(v, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS b
        |  FROM e),
        |banded AS (
        |  SELECT vec_id, i AS band, array_to_string(b[(i*16+1):(i*16+16)], '') AS bb
        |  FROM bits, (SELECT unnest(range(4)) AS i)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS anchor, y.vec_id AS nb
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bb = y.bb
        |  WHERE x.vec_id <> y.vec_id),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |scored AS (
        |  SELECT anchor, nb,
        |    round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cos_sim
        |  FROM cand JOIN n x ON x.vec_id = anchor JOIN n y ON y.vec_id = nb),
        |ranked AS (
        |  SELECT anchor, nb, cos_sim,
        |    row_number() OVER (PARTITION BY anchor ORDER BY cos_sim DESC, nb) AS rk
        |  FROM scored)
        |SELECT anchor, rk, nb AS neighbor, cos_sim
        |FROM ranked WHERE rk <= 3 ORDER BY anchor, rk""".stripMargin),
  )
}
