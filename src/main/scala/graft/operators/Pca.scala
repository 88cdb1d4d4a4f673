package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained PCA projection for the ANN ladder — the LEARNED twin of the
  * train-free JL projection (qs11): spend one distributed pass on the
  * corpus to learn the directions that actually carry variance, then
  * project 64-dim embeddings to a handful of coordinates ahead of
  * similarity search. JL needs no pass but keeps distances only in
  * expectation; PCA's subspace is optimal in L2, which is why its
  * recall at equal target dims dominates (measured in BASELINE.md).
  *
  * Scale posture at 100 TB: training is ONE distributed aggregation —
  * raw first and second moments Σx_j and Σx_j·x_k accumulated as
  * DECIMAL(38,18) (order-independent across any partitioning, so the
  * model is bit-reproducible run-to-run), d(d+3)/2 driver-side cells
  * for d=64. The covariance C = S/n − μμᵀ forms on the driver and a
  * classical Jacobi sweep eigensolver (fixed pivot order, fixed sweep
  * count, deterministic sign convention) extracts the top components —
  * O(d³) driver work, microseconds at embedding dims. Projection is a
  * per-row map with the components folded in as literals: no shuffle,
  * no broadcast table.
  */
object Pca {

  /** mean: length d; components: outDims rows × d (orthonormal). */
  final case class Model(mean: Array[Double],
                         components: Array[Array[Double]]) {
    def d: Int = mean.length
    def outDims: Int = components.length
  }

  /** The raw-moment rows a corpus contributes: (j=-1, k=-1) carries
    * the vector count, (j, k=-1) carries Σx_j, (j, k>=j) carries
    * Σ x_j·x_k — ALL as DECIMAL(38,18), which is what makes moments a
    * true monoid: partial sums from any partitioning OR any batch
    * split merge to the identical total (streaming.MomentIngest builds
    * the exact same model from per-batch partials).
    */
  def momentRows(df: DataFrame, vecCol: String): DataFrame = {
    val base = df.select(col(vecCol).cast("array<double>").as("v"))
    val e1 = base.select(col("v"), posexplode(col("v")).as(Seq("j", "xj")))
    val first = e1.groupBy("j")
      .agg(sum(col("xj").cast("decimal(38,18)")).as("s"))
      .select(col("j"), lit(-1).as("k"), col("s"))
    val second = e1
      .select(col("j"), col("xj"), posexplode(col("v")).as(Seq("k", "xk")))
      .filter(col("k") >= col("j"))
      .groupBy("j", "k")
      .agg(sum((col("xj") * col("xk")).cast("decimal(38,18)")).as("s"))
      .select(col("j"), col("k"), col("s"))
    val cnt = base
      .agg(count(lit(1)).cast("decimal(38,18)").as("s"))
      .select(lit(-1).as("j"), lit(-1).as("k"), col("s"))
    first.unionByName(second).unionByName(cnt)
  }

  /** Build the model from collected moment rows (the [[momentRows]]
    * schema). Deterministic: identical decimal totals → identical
    * doubles → identical eigensolve.
    */
  def fromMoments(rows: Seq[(Int, Int, java.math.BigDecimal)],
                  outDims: Int, sweeps: Int = 12): Model = {
    val n = rows.collectFirst { case (-1, -1, s) => s.doubleValue() }
      .getOrElse(0.0)
    require(n > 1, "PCA needs at least two vectors")
    val d = rows.collect { case (j, -1, _) if j >= 0 => j }.max + 1
    require(outDims > 0 && outDims <= d, s"outDims $outDims vs d=$d")
    val mean = Array.fill(d)(0.0)
    rows.foreach { case (j, k, s) =>
      if (j >= 0 && k == -1) mean(j) = s.doubleValue() / n
    }
    val cov = Array.fill(d, d)(0.0)
    rows.foreach { case (j, k, s) =>
      if (j >= 0 && k >= 0) {
        val c = s.doubleValue() / n - mean(j) * mean(k)
        cov(j)(k) = c; cov(k)(j) = c
      }
    }
    val (values, vectors) = jacobi(cov, sweeps)
    // top components by eigenvalue desc, ties by index asc; sign pinned
    // so the largest-|coordinate| entry is positive (first on ties)
    val order = values.zipWithIndex
      .sortBy { case (v, i) => (-v, i) }.take(outDims).map(_._2)
    val comps = order.map { ci =>
      val c = Array.tabulate(d)(r => vectors(r)(ci))
      var best = 0
      for (j <- 1 until d) if (math.abs(c(j)) > math.abs(c(best))) best = j
      if (c(best) < 0) c.map(-_) else c
    }
    Model(mean, comps)
  }

  /** One-pass moment training + driver-side eigensolve. */
  def train(spark: SparkSession, df: DataFrame, idCol: String,
            vecCol: String, outDims: Int, sweeps: Int = 12): Model = {
    val rows = momentRows(df, vecCol).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2))).toSeq
    fromMoments(rows, outDims, sweeps)
  }

  /** Classical cyclic Jacobi for a symmetric matrix: fixed (p,q) sweep
    * order and fixed sweep count make the decomposition deterministic.
    * Returns (eigenvalues, eigenvector columns).
    */
  private def jacobi(a0: Array[Array[Double]],
                     sweeps: Int): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until d - 1; q <- p + 1 until d) {
      val apq = a(p)(q)
      if (math.abs(apq) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t = math.signum(theta) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
            case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            case tt => tt
          }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (r <- 0 until d) {
          val arp = a(r)(p); val arq = a(r)(q)
          a(r)(p) = c * arp - s * arq
          a(r)(q) = s * arp + c * arq
        }
        for (r <- 0 until d) {
          val apr = a(p)(r); val aqr = a(q)(r)
          a(p)(r) = c * apr - s * aqr
          a(q)(r) = s * apr + c * aqr
        }
        for (r <- 0 until d) {
          val vrp = v(r)(p); val vrq = v(r)(q)
          v(r)(p) = c * vrp - s * vrq
          v(r)(q) = s * vrp + c * vrq
        }
      }
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project vectors onto the learned subspace: per-row map with the
    * components as literals, mean-centering folded into a constant
    * offset (y_i = c_i·x − c_i·μ). Output (idCol, proj array<double>).
    */
  def project(df: DataFrame, model: Model, idCol: String,
              vecCol: String): DataFrame = {
    val coords = model.components.map { comp =>
      val cLit = array(comp.map(lit).toIndexedSeq: _*)
      val offset = comp.zip(model.mean).map { case (c, m) => c * m }.sum
      aggregate(zip_with(col(vecCol).cast("array<double>"), cLit,
        (a, b) => a * b), lit(0.0), (a, x) => a + x) - lit(offset)
    }
    df.select(col(idCol), array(coords.toIndexedSeq: _*).as("proj"))
  }

  /** Unit-normalize a vector column (cosine = dot afterwards). Train
    * the model on THIS output when the downstream metric is cosine.
    */
  def normalized(df: DataFrame, idCol: String, vecCol: String,
                 outCol: String = "nv"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val nrm = sqrt(aggregate(transform(v, x => x * x),
      lit(0.0), (a, x) => a + x))
    df.select(col(idCol), transform(v, x => x / nrm).as(outCol))
  }

  /** Two-stage PCA search — the compressed-scan rung of the ANN
    * ladder, exactly the PQ discipline (Pq.search): candidates come
    * from dot products in the PROJECTED space (outDims multiplies per
    * pair instead of d — the scan reads the small projection table,
    * not the vectors), the top-`shortlist` is exact-reranked on the
    * true unit vectors. Raw projected top-k is NOT a usable gate on
    * isotropic embeddings (measured: hits@10 of 1–5 at outDims=32 —
    * random vectors have no low-variance subspace to drop); the
    * shortlist+rerank repairs that the way PQ's ADC rerank does.
    * Output matches cosineTopK: (query_id, neighbor_id, rnk).
    *
    * Scale posture: the candidate stage is still a bounded-queries ×
    * corpus scan (cheaper per pair, same pair count) — compose with
    * IVF for sub-linear candidate generation; this operator is the
    * projection-quality rung, twin-paired with qs01's exact scan.
    */
  def searchRerank(corpus: DataFrame, queries: DataFrame, model: Model,
                   idCol: String, vecCol: String, k: Int,
                   shortlist: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val cN = normalized(corpus, idCol, vecCol)
    val qN = normalized(queries, idCol, vecCol)
    val pc = project(cN, model, idCol, "nv")
      .select(col(idCol).as("vid"), col("proj").as("pv"))
    val pq = project(qN, model, idCol, "nv")
      .select(col(idCol).as("qid"), col("proj").as("qpv"))
    val cand = pq.crossJoin(pc)
      .filter(col("qid") =!= col("vid"))
      .withColumn("psim", aggregate(zip_with(col("qpv"), col("pv"),
        (a, b) => a * b), lit(0.0), (a, x) => a + x))
      .withColumn("r", row_number().over(
        Window.partitionBy("qid").orderBy(col("psim").desc, col("vid"))))
      .filter(col("r") <= shortlist)
      .select("qid", "vid")
    rerankExact(cand, cN, qN, idCol, k)
  }

  /** Exact cosine rerank of a (qid, vid) candidate set on unit
    * vectors — the shared final stage of [[searchRerank]] and
    * [[searchIvfRerank]]. Output (query_id, neighbor_id, rnk).
    */
  private def rerankExact(cand: DataFrame, cN: DataFrame, qN: DataFrame,
                          idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val rer = cand
      .join(cN.select(col(idCol).as("vid"), col("nv").as("v")), "vid")
      .join(qN.select(col(idCol).as("qid"), col("nv").as("qv")), "qid")
      .withColumn("sim", aggregate(zip_with(col("qv"), col("v"),
        (a, b) => a * b), lit(0.0), (a, x) => a + x))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vid"))
    rer.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("qid").as("query_id"), col("vid").as("neighbor_id"),
        col("rnk"))
  }

  /** PCA × IVF composition — the full production rung: IVF buckets in
    * the PROJECTED space give SUB-LINEAR candidate generation (probe
    * `nprobe` of `ivfK` cells instead of scanning the corpus) AND
    * cheap per-pair distances (outDims multiplies), then the
    * top-`shortlist` exact-reranks on the true vectors. [[searchRerank]]
    * is the projection-quality rung (full compressed scan); this one
    * adds the index. The IVF model trains on the projected corpus —
    * train both once, serve forever (the registry shape).
    */
  def searchIvfRerank(spark: SparkSession, corpus: DataFrame,
                      queries: DataFrame, model: Model, ivf: Ivf.Model,
                      idCol: String, vecCol: String, k: Int,
                      shortlist: Int = 128, nprobe: Int = 4): DataFrame = {
    val cN = normalized(corpus, idCol, vecCol)
    val qN = normalized(queries, idCol, vecCol)
    // MATERIALIZE the projected corpus before handing it to the index:
    // left lazy, the 32-coordinate HOF projection chain gets inlined
    // into the probe join's candidate side and re-evaluates per
    // REFERENCE instead of per corpus row (measured 19 s vs 0.8 s at
    // sf0.1, tools.PcaDiag at commit f1c7db7). Persisting the
    // compressed representation is also the honest production shape
    // — compressing once is the point of compression; at scale this table is what you'd write
    // next to the index anyway (n × outDims doubles, 2× smaller than
    // the float corpus at 64→32).
    val pc = project(cN, model, idCol, "nv").localCheckpoint()
    val cand = Ivf.search(
        pc, project(qN, model, idCol, "nv"),
        ivf, idCol, "proj", k = shortlist, nprobe = nprobe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("vid"))
    rerankExact(cand, cN, qN, idCol, k)
  }
}
