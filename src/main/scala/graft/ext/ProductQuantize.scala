package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKFunctions

/** Product quantization — the third leg of the vector-index toolchain
  * next to scalar quantization ([[Quantize]], q64) and IVF
  * ([[Similarity]]/[[KMeansInt]], q32/q66/q77): split each vector into
  * M contiguous subspaces, train an independent k-codeword codebook per
  * subspace (integer Lloyd — [[KMeansInt]], bit-deterministic), and
  * store each vector as M small codeword ids. M=4 × k=8 compresses a
  * 64-dim int8 code vector (64 bytes) to 4×3 bits while keeping
  * asymmetric distances computable from per-subspace lookup tables —
  * the IVF-PQ layout production ANN indexes (faiss-style) use at
  * billion-vector scale.
  *
  * Scale shape: per subspace everything is [[KMeansInt]]'s shape
  * (broadcast k×subDim centroids; codes touched once per Lloyd round);
  * the M subspace assignments are unioned and pivoted back to one row
  * per vector by an id-grouped collect of M elements — bounded state,
  * map-side combined. `recon_dist2` (Σ per-subspace quantization error)
  * is the exact integer objective a PQ training loop monitors.
  */
object ProductQuantize {

  val NumSub = 4
  val SubDim = 16
  val K = 8

  /** Coarse (IVF) quantizer cluster count — the k of the full-dim
    * k-means the index's cell structure is built from. Referenced by
    * every trainer AND by audit oracles that derive expected centroid
    * cardinalities (coarse part rows = CoarseK × Dims), so a future
    * change cannot desynchronize them. */
  val CoarseK = 8

  /** Full code dimensionality — the NumSub × SubDim concatenation. */
  val Dims: Int = NumSub * SubDim

  /** Train all [[NumSub]] per-subspace codebooks to their assignment
    * fixed points and return the FULL [[KMeansInt.FitResult]] per
    * subspace — the single training entry everything else (encode,
    * codebook table, compressed corpus) derives from, so a session
    * cache holding these fits shares ONE training across the whole PQ
    * family (q107's encode, q108's books + compressed scan). The M
    * trainings are independent, so they run as CONCURRENT Spark jobs
    * (job submission is thread-safe); each result is a deterministic
    * function of its subspace alone, so parallel order cannot change
    * the output. The input is eagerly checkpointed HERE so the
    * concurrent fits race on a computed RDD, never on a lazy upstream
    * plan (a bare count() would only compute — not truncate — an
    * arbitrary plan, and each concurrent fit would replan the whole
    * upstream lineage). */
  def subspaceFits(codes: DataFrame): IndexedSeq[KMeansInt.FitResult] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val mat = codes.localCheckpoint(true)
    Await.result(Future.sequence((0 until NumSub).map { m =>
      Future {
        KMeansInt.fitConvergedAssign(subCodes(mat, m), k = K,
          maxRounds = KMeansInt.MaxRounds)
      }
    }), Duration.Inf).toIndexedSeq
  }

  /** (id, pq array of M codeword ids, recon_dist2) from trained fits —
    * the fit's final assignment IS assign-vs-converged-centroids, so no
    * extra assignment pass runs. */
  def encodeFromFits(fits: IndexedSeq[KMeansInt.FitResult]): DataFrame =
    fits.zipWithIndex.map { case (f, m) =>
      f.assignment.select(col("id"), lit(m).as("sub"), col("cluster"), col("dist2"))
    }.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("cluster")))),
          s => s("cluster")).as("pq"),
        sum(col("dist2")).as("recon_dist2"))

  /** The (sub, cluster, d, m) codebook table from trained fits. */
  def codebooksFromFits(fits: IndexedSeq[KMeansInt.FitResult]): DataFrame =
    fits.zipWithIndex.map { case (f, m) =>
      f.centroids.select(lit(m).as("sub"), col("cluster"), col("d"), col("m"))
    }.reduce(_ unionByName _)

  /** The compressed corpus (id, sub, cluster) from trained fits —
    * value-identical to [[encodeWith]] against the converged codebooks
    * (same argmin, same ties), without re-assigning. */
  def encFromFits(fits: IndexedSeq[KMeansInt.FitResult]): DataFrame =
    fits.zipWithIndex.map { case (f, m) =>
      f.assignment.select(col("id"), lit(m).as("sub"), col("cluster"))
    }.reduce(_ unionByName _)

  /** PQ-encode 64-dim int8 code vectors (id, codes array<long>):
    * (id, pq array<long> of [[NumSub]] codeword ids, recon_dist2).
    * Codebooks are trained per subspace from [[KMeansInt.seedCents]]'
    * hash-rank + farthest-first seeds to the exact assignment fixed
    * point ([[KMeansInt.fitConvergedAssign]]). */
  def encode(codes: DataFrame): DataFrame = encodeFromFits(subspaceFits(codes))

  private def subCodes(codes: DataFrame, m: Int): DataFrame =
    codes.select(col("id"), slice(col("codes"), m * SubDim + 1, SubDim).as("codes"))

  /** Train all M codebooks to their assignment fixed points: (sub,
    * cluster, d, m) — M·K·SubDim rows. See [[subspaceFits]] for the
    * concurrency and determinism notes. */
  def codebooks(codes: DataFrame): DataFrame = codebooksFromFits(subspaceFits(codes))

  /** Assign every vector to its nearest codeword per subspace against
    * FIXED codebooks: (id, sub, cluster). */
  def encodeWith(codes: DataFrame, books: DataFrame): DataFrame =
    (0 until NumSub).map { m =>
      KMeansInt.assign(
          KMeansInt.explodedCodes(subCodes(codes, m)),
          books.filter(col("sub") === m).select(col("cluster"), col("d"), col("m")))
        .select(col("id"), lit(m).as("sub"), col("cluster"))
    }.reduce(_ unionByName _)

  /** PQ-encode vectors against FIXED (e.g. parquet-loaded) codebooks:
    * (id, pq array of M codeword ids, recon_dist2) — the frozen-
    * codebook ingest path: new arrivals are encoded by [[KMeansInt.assign]]
    * against broadcast codebooks, touching no training code. Same
    * argmin and ties as training-side assignment, so encoding a vector
    * the books were trained on reproduces its training codeword. */
  def encodeAgainst(codes: DataFrame, books: DataFrame): DataFrame =
    (0 until NumSub).map { m =>
      KMeansInt.assign(
          KMeansInt.explodedCodes(subCodes(codes, m)),
          books.filter(col("sub") === m).select(col("cluster"), col("d"), col("m")))
        .select(col("id"), lit(m).as("sub"), col("cluster"), col("dist2"))
    }.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("cluster")))),
          s => s("cluster")).as("pq"),
        sum(col("dist2")).as("recon_dist2"))

  /** The K centroid arrays of a (cluster, d, m) centroid table,
    * dim-ordered — the broadcast-able form residual computation zips
    * against (shared by index build and index ADD, so the two can
    * never disagree on the residual arithmetic). */
  def centroidArrays(cent: DataFrame): DataFrame =
    cent.groupBy(col("cluster").as("coarse"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        s => s("m")).as("marr"))

  /** IVF-PQ index ADD — encode NEW vectors against a FROZEN (e.g.
    * parquet-loaded) index without touching any training code: each
    * arrival is coarse-assigned to its nearest coarse centroid
    * ([[KMeansInt.assign]] against the broadcast coarse table), its
    * shifted residual computed row-locally, and the residual
    * PQ-encoded against the frozen residual books
    * ([[encodeAgainst]]). Returns (id, coarse, coarse_dist2, pq,
    * recon_dist2) — exactly the rows an ingest batch appends to the
    * index's `asg`/`enc` parts, plus the two exact integer error
    * columns an operator watches for index staleness. Same argmin and
    * ties as index construction, so adding a vector the index was
    * built on reproduces its stored assignment. */
  def ivfPqAdd(codes: DataFrame,
      index: (DataFrame, DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (coarse, _, booksR, _) = index
    val casg = KMeansInt.assign(KMeansInt.explodedCodes(codes), coarse)
      .select(col("id"), col("cluster").as("coarse"),
        col("dist2").as("coarse_dist2"))
    val resid = codes.join(casg, "id")
      .join(broadcast(centroidArrays(coarse)), "coarse")
      .select(col("id"),
        zip_with(col("codes"), col("marr"), (c, m) => c - m + lit(ResidShift)).as("codes"))
    encodeAgainst(resid, booksR).join(casg, "id")
      .select(col("id"), col("coarse"), col("coarse_dist2"),
        col("pq"), col("recon_dist2"))
  }

  /** DELETE a set of vector ids from an IVF-PQ index: anti-join the
    * corpus-sized `asg`/`enc` parts against the delete list; the
    * broadcast-sized centroid/codebook parts are untouched — deletion
    * never retrains (a shrunken cell's codewords merely cover more
    * space than they need until the recon_dist2 drift signal schedules
    * the next retrain). The delete list is a DataFrame, not a literal
    * (takedown batches arrive as data): at scale the anti-join is a
    * plain keyed shuffle, and AQE turns it into a broadcast when the
    * batch is small. */
  def ivfPqDelete(index: (DataFrame, DataFrame, DataFrame, DataFrame),
      deletes: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (coarse, asg, books, enc) = index
    val del = deletes.select(col("id")).distinct()
    (coarse, asg.join(del, Seq("id"), "left_anti"), books,
      enc.join(del, Seq("id"), "left_anti"))
  }

  /** Collect a (sub, cluster, d, m) codebook table into per-subspace
    * literal centroid lists — the constant-size (M·K·SubDim integers)
    * driver artifact [[pqEncodeExpr]] embeds, so a stateless stream
    * can encode with zero joins. */
  def collectBooks(books: DataFrame): IndexedSeq[Seq[(Long, Seq[Long])]] = {
    // integer widths vary by provenance (in-memory lit vs parquet) —
    // normalize before the typed read
    val rows = books.select(col("sub").cast("int"), col("cluster").cast("long"),
        col("d").cast("int"), col("m").cast("long"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    (0 until NumSub).map { m =>
      rows.filter(_._1 == m).groupBy(_._2).toSeq.map { case (cl, rs) =>
        (cl, rs.sortBy(_._3).map(_._4).toSeq)
      }.sortBy(_._1)
    }
  }

  /** Collect a (cluster, d, m) coarse-centroid table into literal
    * arrays (cluster ids ascending, dims 1..64 ordered) — the few-KB
    * driver artifact the streaming probe expression embeds. */
  def collectCoarse(coarse: DataFrame): (Array[Long], Array[Array[Long]]) = {
    val rows = coarse.select(col("cluster").cast("long"), col("d").cast("int"),
        col("m").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byC = rows.groupBy(_._1).toSeq.sortBy(_._1)
    (byC.map(_._1).toArray,
      byC.map(_._2.sortBy(_._2).map(_._3).toArray).toArray)
  }

  /** [[collectBooks]] reshaped to the primitive arrays
    * [[graft.functions.IvfPqLutRows]] embeds: per subspace the cluster
    * ids (ascending) and the matching SubDim-ordered centroid rows. */
  def collectBookArrays(books: DataFrame)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val bs = collectBooks(books)
    (bs.map(_.map(_._1).toArray).toArray,
      bs.map(_.map(_._2.toArray).toArray).toArray)
  }

  /** Row-local flat probe LUT (pc, sub, cluster, lutd2) against the
    * LITERAL collected index — coarse top-`nProbe` selection, shifted
    * residual, and every sub-distance in one primitive JVM pass; the
    * streaming serve form of [[ivfPqTopKWith]]'s probe + LUT stages
    * (same (d², cluster) probe tie-break, same shifted-residual
    * arithmetic — parity spec-pinned). */
  def ivfPqLutExpr(coarse: (Array[Long], Array[Array[Long]]),
      books: (Array[Array[Long]], Array[Array[Array[Long]]]),
      nProbe: Int, codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(graft.functions.IvfPqLutRows(shim.expression(codes),
      coarse._1, coarse._2, books._1, books._2, nProbe, SubDim, ResidShift))
  }

  /** Row-local PQ encode against LITERAL codebooks: struct(pq0..pq3,
    * recon_dist2) from a 64-long codes array — [[KMeansInt.bestOf]]'s
    * native argmin per subspace, no join, no shuffle, no state. The
    * streaming ingest form of [[encodeAgainst]] (value-identical —
    * same argmin, same ties; spec-pinned). */
  def pqEncodeExpr(books: IndexedSeq[Seq[(Long, Seq[Long])]],
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parts = (0 until NumSub).map { m =>
      KMeansInt.bestOf(books(m), slice(codes, m * SubDim + 1, SubDim))
    }
    struct(
      parts.zipWithIndex.map { case (p, m) => p("cluster").as(s"pq$m") } :+
        parts.map(_("dist2")).reduce(_ + _).as("recon_dist2"): _*)
  }

  /** Asymmetric-distance top-k: score every encoded vector against each
    * query by table lookup — the PQ search path. Per query only a
    * M×K lookup table (LUT) of exact integer sub-distances is computed
    * against the codebooks; the corpus is then scanned ONCE in its
    * compressed (id, sub, codeword) form and each vector's distance is
    * Σ_m LUT[m][codeword] — no per-pair vector math, which is why IVF-PQ
    * indexes sustain billion-vector search. Self-matches are excluded.
    *
    * `queries` must be (id, codes) rows (code-space ADC: queries are
    * SQ8 codes like the corpus). Returns (qid, rank, vec_id, adc_dist2),
    * rank 1..topK by (distance, id). */
  def adcTopK(codes: DataFrame, queries: DataFrame, books: DataFrame,
      topK: Int): DataFrame =
    adcTopKEnc(encodeWith(codes, books), queries, books, topK)

  /** [[adcTopK]] against an ALREADY-COMPRESSED corpus `enc`
    * (id, sub, cluster) — the cached-index query path: when the fits
    * are session-cached, search touches only the compressed form and
    * never re-assigns the corpus. */
  def adcTopKEnc(enc: DataFrame, queries: DataFrame, books: DataFrame,
      topK: Int): DataFrame = {
    // LUT: |queries|·M·K rows of Σ_d (q_d − m_d)² — broadcast-sized
    val qexpl = (0 until NumSub).map { m =>
      KMeansInt.explodedCodes(subCodes(queries, m))
        .select(col("id").as("qid"), lit(m).as("sub"), col("d"), col("c"))
    }.reduce(_ unionByName _)
    val lut = qexpl.join(broadcast(books), Seq("sub", "d"))
      .groupBy(col("qid"), col("sub"), col("cluster"))
      .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("lutd2"))
    rankByDist(enc.join(broadcast(lut), Seq("sub", "cluster"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("lutd2")).as("adc_dist2")), topK)
  }

  /** Each query's `topK` nearest of its (keys…, qid, id, adc_dist2)
    * candidates, rank 1..topK by (adc_dist2, id): (keys…, qid, rank,
    * vec_id, adc_dist2). */
  private def rankByDist(scored: DataFrame, topK: Int, keys: Seq[String] = Nil): DataFrame =
    TopKFunctions.ranked(scored, keys :+ "qid", Seq(col("adc_dist2"), col("id")), topK)
      .select(keys.map(col) ++ Seq(col("qid"), col("rank"), col("id").as("vec_id"),
        col("adc_dist2")): _*)

  // ---- IVF-PQ (coarse quantizer + PQ on residuals) -------------------

  /** Shift applied to residuals so they stay non-negative (codes and
    * centroids live in [0, 255], residuals in [-255, 255]). An integer
    * shift is EXACTLY preserved by floor-mean centroid updates
    * (⌊(Σ(x+s))/n⌋ = ⌊Σx/n⌋ + s) and cancels in every distance, so
    * shifted-residual PQ ≡ residual PQ — and it sidesteps the one
    * cross-engine trap: Spark's DIV truncates toward zero while
    * DuckDB's // floors, which disagree on negatives. */
  val ResidShift = 255L

  /** Build the IVF-PQ index: a K-cluster full-dim coarse quantizer
    * (integer Lloyd), each vector's coarse assignment, and PQ codebooks
    * + codewords over the SHIFTED residual (vector − its coarse
    * centroid) — the faiss IVFPQ layout: the coarse id partitions the
    * corpus, the M codeword ids encode the residual.
    * Returns (coarse (cluster,d,m), asg (id,coarse),
    * booksR (sub,cluster,d,m), encR (id,sub,cluster)). */
  def ivfPqIndex(codes: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfPqIndexFrom(codes, KMeansInt.fitConvergedAssign(codes, k = K,
      maxRounds = KMeansInt.MaxRounds))

  /** [[ivfPqIndex]] from an ALREADY-TRAINED coarse quantizer fit — the
    * session-cache path: the full-dim k=K Lloyd fit is the identical
    * training q77 runs over the same codes, so one cached fit serves
    * both the k-means query and the IVF-PQ coarse layer. The residual
    * codebooks and compressed corpus both derive from ONE set of
    * residual-subspace fits (no re-assignment pass). */
  def ivfPqIndexFrom(codes: DataFrame, fit: KMeansInt.FitResult)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val coarse = fit.centroids
    // the fit's final assignment IS assign-vs-converged-centroids —
    // reuse it instead of paying another full assignment pass
    val asg = fit.assignment
      .select(col("id"), col("cluster").as("coarse"))
      .localCheckpoint(false)
    // K centroid arrays, dim-ordered — broadcast onto the corpus
    val carr = centroidArrays(coarse)
    val resid = codes.join(asg, "id").join(broadcast(carr), "coarse")
      .select(col("id"),
        zip_with(col("codes"), col("marr"), (c, m) => c - m + lit(ResidShift)).as("codes"))
      .localCheckpoint(false)
    val fitsR = subspaceFits(resid)
    (coarse, asg, codebooksFromFits(fitsR), encFromFits(fitsR))
  }

  /** IVF-PQ search: probe the `nProbe` nearest coarse clusters per
    * query, build the per-(query, probed-cluster) M×K residual lookup
    * table, and rank ONLY vectors assigned to probed clusters by
    * Σ_m LUT[m][codeword] — the production ANN query path: candidate
    * volume shrinks by ~nProbe/K before any distance math, and what
    * remains is table lookups over 3-bit codewords. Self-matches
    * excluded; ties break by id. */
  def ivfPqTopK(codes: DataFrame, queries: DataFrame, nProbe: Int,
      topK: Int): DataFrame =
    ivfPqTopKWith(ivfPqIndex(codes), queries, nProbe, topK)

  /** The whole nProbe operating sweep in ONE corpus pass: a vector's
    * ADC distance to a query is independent of nProbe (probing only
    * gates WHICH coarse cells contribute candidates), so score every
    * vector once at full probe, carry the probe RANK of its coarse
    * cell per query, and slice each sweep point out of the scored set
    * — value-identical to running [[ivfPqTopKWith]] once per nProbe
    * (candidates at nProbe = vectors whose cell rank ≤ nProbe; same
    * LUT arithmetic, same (distance, id) tie-break), at one search's
    * cost instead of |probes|. Returns (n_probe, qid, rank, vec_id,
    * adc_dist2). */
  def ivfPqSweep(index: (DataFrame, DataFrame, DataFrame, DataFrame),
      queries: DataFrame, probes: Seq[Int], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (coarse, asg, booksR, encR) = index
    val qexpl = KMeansInt.explodedCodes(queries)
      .select(col("id").as("qid"), col("d"), col("c"))
      .localCheckpoint(false)
    // ALL coarse cells ranked per query (no nProbe filter)
    val byD2 = Window.partitionBy(col("qid")).orderBy(col("d2"), col("pc"))
    val ranked = qexpl.join(broadcast(coarse), Seq("d"))
      .groupBy(col("qid"), col("cluster").as("pc"))
      .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("d2"))
      .withColumn("rn", row_number().over(byD2))
      .select(col("qid"), col("pc"), col("rn"))
    val qr = ranked
      .join(qexpl, "qid")
      .join(broadcast(coarse.select(col("cluster").as("pc"), col("d"), col("m"))),
        Seq("pc", "d"))
      .select(col("qid"), col("pc"), col("rn"), col("d"),
        (col("c") - col("m") + lit(ResidShift)).as("c"))
    val lut = qr
      .withColumn("sub", ((col("d") - 1) / SubDim).cast("int"))
      .withColumn("d", col("d") - col("sub") * SubDim)
      .join(broadcast(booksR), Seq("sub", "d"))
      .groupBy(col("qid"), col("pc"), col("rn"), col("sub"), col("cluster"))
      .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("lutd2"))
    val lutR = lut.select(col("qid"), col("pc").as("coarse"),
      col("rn"), col("sub"), col("cluster"), col("lutd2"))
    // each candidate's rn is constant across its M LUT rows — min is it
    val scored = encR.join(asg, "id")
      .join(broadcast(lutR), Seq("sub", "cluster", "coarse"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("lutd2")).as("adc_dist2"), min(col("rn")).as("rn"))
      .localCheckpoint(false) // one corpus pass feeds every sweep point
    probes.map { np =>
      rankByDist(scored.filter(col("rn") <= np).drop("rn"), topK)
        .select(lit(np.toLong).as("n_probe"), col("*"))
    }.reduce(_ unionByName _)
  }

  /** [[ivfPqTopK]] against a PREBUILT (possibly session-cached) index —
    * search cost is independent of training. */
  def ivfPqTopKWith(index: (DataFrame, DataFrame, DataFrame, DataFrame),
      queries: DataFrame, nProbe: Int, topK: Int): DataFrame = {
    val (coarse, asg, booksR, encR) = index
    val qexpl = KMeansInt.explodedCodes(queries)
      .select(col("id").as("qid"), col("d"), col("c"))
      .localCheckpoint(false)
    // probe set: nProbe nearest coarse centroids per query
    val probes = TopKFunctions.ranked(qexpl.join(broadcast(coarse), Seq("d"))
        .groupBy(col("qid"), col("cluster").as("pc"))
        .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("d2")),
        Seq("qid"), Seq(col("d2"), col("pc")), nProbe)
      .select(col("qid"), col("pc"))
    // shifted query residual against each probed centroid
    val qr = probes
      .join(qexpl, "qid")
      .join(broadcast(coarse.select(col("cluster").as("pc"), col("d"), col("m"))),
        Seq("pc", "d"))
      .select(col("qid"), col("pc"), col("d"),
        (col("c") - col("m") + lit(ResidShift)).as("c"))
    // LUT: per (query, probed cluster, subspace, codeword) exact integer d²
    val lut = qr
      .withColumn("sub", ((col("d") - 1) / SubDim).cast("int"))
      .withColumn("d", col("d") - col("sub") * SubDim)
      .join(broadcast(booksR), Seq("sub", "d"))
      .groupBy(col("qid"), col("pc"), col("sub"), col("cluster"))
      .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("lutd2"))
    adcLutTopK(lut.select(col("qid"), col("pc").as("coarse"),
      col("sub"), col("cluster"), col("lutd2")), encR, asg, topK)
  }

  /** The IVF-PQ search tail over per-query LUT rows (keys…, qid,
    * coarse, sub, cluster, lutd2): candidates are the vectors in the
    * probed cells, each contributing exactly one LUT row per subspace;
    * their Σ lutd2 ADC distances rank to each query's top-`topK` by
    * (distance, id), self-matches excluded — (keys…, qid, rank, vec_id,
    * adc_dist2). `keys` are pass-through columns: the batch search
    * passes none, the streaming serve twin its event-time window. */
  private[graft] def adcLutTopK(lutR: DataFrame, encR: DataFrame, asg: DataFrame,
      topK: Int, keys: Seq[String] = Nil): DataFrame =
    rankByDist(encR.join(asg, "id")
      .join(broadcast(lutR), Seq("sub", "cluster", "coarse"))
      .filter(col("id") =!= col("qid"))
      .groupBy((keys ++ Seq("qid", "id")).map(col): _*)
      .agg(sum(col("lutd2")).as("adc_dist2")), topK, keys)
}
