package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Portable, Tables}
import graft.functions.{TopK, VectorFunctions}

/** Similarity search + multimodal-column extensions (SURVEY.md §2.2 X3/X5).
  *
  * Embeddings are unit-normalized 64-d float vectors, so cosine similarity
  * is the raw dot product. Dot products run through the native Catalyst
  * expression [[graft.functions.DotProductFloat]] (codegen'd primitive
  * loop), which accumulates left-to-right in double — the exact IEEE
  * operation sequence of the oracle's generated SQL chain
  * (Portable.dotSql), so values stay bit-identical across engines with no
  * tolerance anywhere.
  *
  * Scale design (100 TB): the brute-force path broadcasts the (small) query
  * set and streams the corpus — embarrassingly parallel, one shuffle of
  * k·|Q| candidate rows for the final top-k; the LSH path buckets both
  * sides by sign-bit projections so the join only touches matching buckets
  * (the IVF-style coarse quantization analogue without a training step);
  * the all-pairs near-dup path is globally bounded by TakeOrderedAndProject
  * (per-partition heaps, never a full sort/materialization).
  */
object Vectors {
  type Q = (SparkSession, String) => DataFrame
  val dim = 64

  /** Brute-force cosine top-k: the exact baseline. `queries` is expected to
    * be small (broadcast); `corpus` arbitrary size.
    */
  /** Shared candidate generation for the brute-force paths: broadcast the
    * query set, repartition + stream the corpus, score with the native dot
    * expression. Both top-k formulations (window and Aggregator) consume
    * this, so they cannot diverge from the shared oracle contract.
    */
  private[operators] def bruteCandidates(queries: DataFrame,
      corpus: DataFrame): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      .crossJoin(corpus.select(col("vec_id"), col("embedding")).repartition(par))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
  }

  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    bruteCandidates(queries, corpus)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  val x3CosineTopK: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    cosineTopK(e.filter(col("vec_id") < 10), e, 5)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  val x3Sql: String =
    s"""WITH sims AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |  ${Portable.dotSql("q.embedding", "c.embedding", dim)} AS sim
       | FROM embeddings q CROSS JOIN embeddings c
       | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, vec_id, sim
       |FROM sims WINDOW w AS (PARTITION BY q_id ORDER BY sim DESC, vec_id)
       |QUALIFY rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Sign-bit LSH bucket (axis-aligned random-projection hash over the
    * first 4 dims): the scale path — candidates only come from the matching
    * bucket, trading recall for a 16× (expected) join reduction. A trained
    * IVF coarse quantizer would replace `bucket` with a centroid id; the
    * plumbing is identical.
    */
  def signBucket(emb: Column): Column =
    (when(element_at(emb, 1) > 0, 8).otherwise(0)
      + when(element_at(emb, 2) > 0, 4).otherwise(0)
      + when(element_at(emb, 3) > 0, 2).otherwise(0)
      + when(element_at(emb, 4) > 0, 1).otherwise(0)).cast("int")

  private val signBucketSql: String =
    """(CASE WHEN %e[1] > 0 THEN 8 ELSE 0 END + CASE WHEN %e[2] > 0 THEN 4 ELSE 0 END
      | + CASE WHEN %e[3] > 0 THEN 2 ELSE 0 END + CASE WHEN %e[4] > 0 THEN 1 ELSE 0 END)"""
      .stripMargin.replace("\n", "")

  val x3bCosineLsh: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir).withColumn("bucket", signBucket(col("embedding")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val joined = broadcast(q)
      .join(e.select(col("vec_id"), col("embedding"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  val x3bSql: String = {
    val bq = signBucketSql.replace("%e", "q.embedding")
    val bc = signBucketSql.replace("%e", "c.embedding")
    s"""WITH sims AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |  ${Portable.dotSql("q.embedding", "c.embedding", dim)} AS sim
       | FROM embeddings q JOIN embeddings c ON $bq = $bc
       | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, vec_id, sim
       |FROM sims WINDOW w AS (PARTITION BY q_id ORDER BY sim DESC, vec_id)
       |QUALIFY rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------- X3r MMR diversified re-rank
  /** Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98) over a per-query candidate shortlist. Each of `k` rounds
    * picks, per q_id, the unselected candidate maximizing
    * `½·rel(q,d) − ½·max_{s∈S} sim(d,s)` (λ = ½ — exactly representable,
    * so scaling a double by it is exact and the score chain stays
    * bit-identical cross-engine given bit-identical rel/sim inputs).
    * `cand` carries (q_id, vec_id, rel); `pairs` carries (q_id, a, b,
    * sim) for shortlist-internal pairs. The empty-S round scores ½·rel
    * (max over ∅ taken as 0), ties broken by vec_id (ascending scan +
    * strict improvement ≡ the window order (score DESC, vec_id ASC)).
    *
    * Scale: greedy MMR is sequential in k but LOCAL per query — the
    * whole selection state is the shortlist (n candidates + n² pairs,
    * n = 20 here), so the right distribution is ONE q_id-keyed cogroup
    * shuffle and a per-group sequential greedy, not k driver-coordinated
    * rounds: a million queries are a million independent bounded groups
    * in one job, wall-clock carries no k× job-overhead factor, and no
    * unrolled per-round lineage rides the task closure (the former
    * 8-round form was the repo's largest broadcast task binary). The
    * group lambda is off-codegen but touches only O(k·n) score probes
    * over shortlist-bounded state — never corpus rows. Arithmetic is
    * the identical IEEE chain as the unrolled-CTE oracle (½·x exact,
    * max order-independent), so selection stays hash-exact.
    */
  def mmrSelect(cand: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // the id casts below are widening ONLY under an integral input — a
    // string/float key would cast to NULL/truncate and surface as an
    // encoder NPE or collapsed groups at runtime. Enforce the documented
    // integral-id contract at PLAN time (the asofJoin LongType-guard
    // pattern), where the caller can still fix it.
    def requireIntegral(df: DataFrame, cols: Seq[String], side: String): Unit =
      cols.foreach { c =>
        import org.apache.spark.sql.types._
        val dt = df.schema(c).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
          s"mmrSelect: $side column $c must be an integral id type " +
            s"(got ${dt.simpleString}) — the long cast would NULL or " +
            "truncate non-integral keys instead of failing loudly")
      }
    requireIntegral(cand, Seq("q_id", "vec_id"), "cand")
    requireIntegral(pairs, Seq("q_id", "a", "b"), "pairs")
    val candT = cand.select(col("q_id").cast("long"),
        col("vec_id").cast("long"), col("rel").cast("double"))
      .as[(Long, Long, Double)].groupByKey(_._1)
    val pairT = pairs.select(col("q_id").cast("long"), col("a").cast("long"),
        col("b").cast("long"), col("sim").cast("double"))
      .as[(Long, Long, Long, Double)].groupByKey(_._1)
    candT.cogroup(pairT) { (q, cs, ps) =>
      val rel = new scala.collection.mutable.HashMap[Long, Double]
      cs.foreach(c => rel(c._2) = c._3)
      val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
      ps.foreach(p => sim((p._2, p._3)) = p._4)
      val ids = rel.keysIterator.toArray.sorted
      val picked = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
      val taken = new scala.collection.mutable.HashSet[Long]
      var round = 1
      while (round <= k && taken.size < ids.length) {
        var bestId = -1L
        var bestScore = 0.0
        var first = true
        ids.foreach { v =>
          if (!taken.contains(v)) {
            // max sim vs already-picked; a missing pair row contributes
            // nothing and an empty set scores 0 — the left-join/coalesce
            // semantics of the set-based form
            var ms = 0.0
            var any = false
            picked.foreach { case (_, s, _) =>
              sim.get((v, s)).foreach { x =>
                if (!any || x > ms) { ms = x; any = true }
              }
            }
            val score = 0.5 * rel(v) - 0.5 * ms
            if (first || score > bestScore) {
              first = false; bestScore = score; bestId = v
            }
          }
        }
        picked += ((q, bestId, round.toLong))
        taken += bestId
        round += 1
      }
      picked.iterator
    }.toDF("q_id", "vec_id", "pick")
  }

  /** X3r — MMR diversified re-rank of the exact cosine shortlist: the
    * result-diversification pass a retrieval stack runs AFTER the x3/x4v
    * head (near-duplicate top hits waste shortlist slots; MMR trades
    * marginal relevance against redundancy). Shortlist = exact top-20
    * per query; 8 greedy picks at λ = ½. Pairwise candidate sims reuse
    * the same native dot expression as the shortlist itself, so every
    * float entering the score is bit-identical to the oracle's generated
    * chain and the selection ORDER (the output) is hash-exact — no
    * bound needed, unlike the recall-style entries. Oracle unrolls the
    * 8 greedy rounds as MATERIALIZED CTEs (the x3k discipline).
    */
  val mmrShortlist = 20
  val mmrK = 8
  val x3rMmrRerank: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val cand = cosineTopK(e.filter(col("vec_id") < 10), e, mmrShortlist)
      .select(col("q_id"), col("vec_id"), col("sim").as("rel"))
      .localCheckpoint() // feeds the pair join and the cogroup input
    val withEmb = cand
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val pairs = withEmb
      .select(col("q_id"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(withEmb.select(col("q_id"), col("vec_id").as("b"),
        col("embedding").as("eb")), Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        VectorFunctions.dotF32(col("ea"), col("eb")).as("sim"))
    mmrSelect(cand, pairs, mmrK).orderBy(col("q_id"), col("pick"))
  }

  def x3rSqlFor(n: Int, k: Int): String = {
    val qdot = Portable.dotSql("q.embedding", "c.embedding", dim)
    val pdot = Portable.dotSql("e1.embedding", "e2.embedding", dim)
    val header =
      s"""WITH sims AS MATERIALIZED (
         | SELECT q.vec_id AS q_id, c.vec_id AS vec_id, $qdot AS sim
         | FROM embeddings q CROSS JOIN embeddings c
         | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |cand AS MATERIALIZED (
         | SELECT q_id, vec_id, sim AS rel FROM sims
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= $n),
         |pair AS MATERIALIZED (
         | SELECT c1.q_id, c1.vec_id AS a, c2.vec_id AS b, $pdot AS sim
         | FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id AND c1.vec_id <> c2.vec_id
         | JOIN embeddings e1 ON e1.vec_id = c1.vec_id
         | JOIN embeddings e2 ON e2.vec_id = c2.vec_id),
         |su0 AS (SELECT q_id, vec_id, CAST(0 AS BIGINT) AS pick FROM cand WHERE FALSE)"""
        .stripMargin
    val its = (1 to k).map { i =>
      s""",
         |ms$i AS (SELECT p.q_id, p.a AS vec_id, max(p.sim) AS maxsim
         | FROM pair p JOIN su${i - 1} s ON p.q_id = s.q_id AND p.b = s.vec_id
         | GROUP BY 1, 2),
         |sc$i AS (SELECT c.q_id, c.vec_id,
         |  0.5 * c.rel - 0.5 * coalesce(m.maxsim, 0.0) AS score
         | FROM cand c LEFT JOIN ms$i m ON c.q_id = m.q_id AND c.vec_id = m.vec_id
         | WHERE NOT EXISTS (SELECT 1 FROM su${i - 1} s
         |   WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)),
         |p$i AS (SELECT q_id, vec_id, CAST($i AS BIGINT) AS pick FROM sc$i
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) = 1),
         |su$i AS MATERIALIZED (SELECT * FROM su${i - 1} UNION ALL SELECT * FROM p$i)"""
        .stripMargin
    }.mkString
    s"$header$its\nSELECT q_id, vec_id, pick FROM su$k ORDER BY q_id, pick"
  }
  val x3rSql: String = x3rSqlFor(mmrShortlist, mmrK)

  /** Embedding-cosine near-dup: global top-20 most-similar pairs (the
    * fixtures plant no >0.52-cosine pairs, so a fixed top-k is the
    * deterministic, always-nonempty formulation; a threshold filter is the
    * same plan with one more predicate).
    */
  val x3cEmbedNearDup: Q = (spark, dir) => {
    // Block-partitioned all-pairs (Partitioning.blockedAllPairs): each of
    // the B(B+1)/2 block-pair tasks holds two blocks (O(n/B) rows) and
    // crosses them locally — no whole-corpus broadcast, bounded per-task
    // memory, so the same plan survives a corpus that doesn't fit on one
    // executor. B ≈ sqrt(2·parallelism) saturates the cluster.
    // The pair orientation off-diagonal is arbitrary; least/greatest
    // canonicalizes, and the dot product is term-wise commutative so sim
    // is bit-identical either way. TakeOrderedAndProject bounds the output
    // (per-partition heaps, never a global sort).
    val e = Tables.embeddings(spark, dir)
    val b = math.max(2, math.ceil(
      math.sqrt(2.0 * spark.sparkContext.defaultParallelism)).toInt)
    Partitioning.blockedAllPairs(e.select(col("vec_id"), col("embedding")), "vec_id", b)
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("va"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vb"),
        VectorFunctions.dotF32(col("a.embedding"), col("b.embedding")).as("sim"))
      .orderBy(col("sim").desc, col("va").asc, col("vb").asc)
      .limit(20)
  }
  val x3cSql: String =
    s"""SELECT a.vec_id AS va, b.vec_id AS vb,
       | ${Portable.dotSql("a.embedding", "b.embedding", dim)} AS sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |ORDER BY sim DESC, va, vb LIMIT 20""".stripMargin

  // ------------------------------------------------- X3h semantic dedup
  /** Cluster-scoped semantic dedup (the SemDeDup shape: near-identical
    * embeddings within a coarse cluster are redundant training data): drop
    * every vector that has a lower-id neighbor with cosine ≥ `tau` in the
    * SAME cluster (here the `label` column; a trained IVF assignment slots
    * in identically). The lower-id rule is deterministic and
    * embarrassingly parallel — a pure pair predicate, no sequential greedy
    * state; the transitive connected-component variant is available by
    * feeding the pair table to Graph.connectedComponents (x7 semantics).
    *
    * Scale: pairs come from [[Partitioning.blockedAllPairsWithin]] — the
    * join key is (cluster, block-pair), so compute is Σ_c |c|² rather than
    * n², per-task memory stays O(|c|/B), and a degenerate giant cluster
    * shards over B(B+1)/2 tasks instead of one reducer. The drop set is
    * near-dup-sized (small), so the anti-join broadcast-probes the corpus.
    */
  def semanticDedup(e: DataFrame, tau: Double, numBlocks: Int = 4): DataFrame = {
    val pairs = Partitioning.blockedAllPairsWithin(
      e.select(col("vec_id"), col("label"), col("embedding")),
      Seq("label"), "vec_id", numBlocks)
      .select(
        greatest(col("a.vec_id"), col("b.vec_id")).as("dropped"),
        VectorFunctions.dotF32(col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= tau)
    e.join(pairs.select(col("dropped").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
  }

  val x3hSemanticDedup: Q = (spark, dir) =>
    semanticDedup(Tables.embeddings(spark, dir), tau = 0.4)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  val x3hSql: String =
    s"""SELECT e.vec_id, e.label FROM embeddings e
       |WHERE NOT EXISTS (
       | SELECT 1 FROM embeddings o
       | WHERE o.label = e.label AND o.vec_id < e.vec_id
       |  AND ${Portable.dotSql("o.embedding", "e.embedding", dim)} >= 0.4)
       |ORDER BY e.vec_id""".stripMargin

  // ------------------------------------------------------------------- X5
  /** Multimodal join: text modality (documents) ⋈ vector modality
    * (embeddings) on shared id; the vector stays ArrayType(FloatType).
    */
  val x5MultimodalJoin: Q = (spark, dir) => {
    Tables.documents(spark, dir)
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"), col("n_chars"),
        size(col("embedding")).as("dim"))
      .orderBy(col("doc_id"))
  }
  val x5Sql: String =
    """SELECT doc_id, lang, label, n_chars, CAST(len(embedding) AS INT) AS dim
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  /** Binary-payload plumbing, oracle-checked half: byte length + content
    * hash of an opaque binary column (UTF-8 bytes of text stand in for an
    * image payload; md5 of the bytes is identical in both engines). The
    * batch decode/feature plumbing lives in graft.operators.Multimodal.
    */
  val x5bMultimodalBinary: Q = (spark, dir) => {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .orderBy(col("doc_id"))
  }
  val x5bSql: String =
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** X5e — PERCEPTUAL-fingerprint dedup over the binary media payload:
    * the media-modality analogue of x2d's token SimHash, and the
    * image-dedup stand-in while codecs are stubbed (a production pHash
    * would feed DCT coefficients into the same sign-sum; the banding /
    * verify plumbing here is exactly what it would ride). The payload
    * byte stream shingles into OVERLAPPING 4-byte windows — a byte-level
    * feature space, so near-identical payloads with insertions/padding
    * still collide, where x5b's whole-payload md5 only catches exact
    * copies — each window hashes, ±1 sign-sums produce a 16-bit
    * fingerprint, Manku banding (4 bands of 4 bits: exact recall for
    * hamming ≤ 3) generates candidates, and the true hamming distance
    * verifies ([[Text.simhashPairs]] — the shared pairing machinery, so
    * media and text fingerprints cannot drift). Every expression runs on
    * the BINARY column (substring/length/md5 over bytes); the oracle
    * mirrors them on the ASCII text the payload derives from — same
    * bytes, the x5b convention.
    *
    * Scale: one explode pass bounded by payload bytes (the shingle
    * staging cost every dedup path pays), fingerprints are 16 chars/doc,
    * and the band join is bucket-capped — nothing pairwise ever touches
    * the corpus.
    */
  def payloadFingerprint(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"), col("payload"), explode(expr(
        "CASE WHEN length(payload) >= 4 THEN sequence(1, length(payload) - 3) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")).as("i"))
      .select(col("doc_id"), md5(expr("substring(payload, i, 4)")).as("h"))
    val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val sums = (1 to 16).map(p =>
      sum(when(substring(col("h"), p, 1).isin(hi: _*), 1).otherwise(-1))
        .as(s"s$p"))
    val bits = (1 to 16).map(p => when(col(s"s$p") > 0, "1").otherwise("0"))
    grams.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  def stagedPayloadFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.Staged(spark, s"media_phash:$dir")(
      payloadFingerprint(Tables.documents(spark, dir)))

  val x5ePhashPairs: Q = (spark, dir) =>
    Text.simhashPairs(stagedPayloadFingerprint(spark, dir))
      .orderBy(col("da"), col("db"))

  /** X5f — frame-sample MANIFEST, oracle-gated: the declarative twin of
    * `Multimodal.sampleFrames`'s typed flatMap path. Video payloads
    * (`attachPayload`'s format rule: doc_id % 3 == 2 → mp4) slice into
    * 4 contiguous frames `[len·k/4, len·(k+1)/4)`; emitted per frame:
    * byte count + content md5 — the manifest a frame-extraction job
    * ships to the decode fleet (workers fetch byte ranges, the md5 is
    * the integrity check). Every expression runs on the BINARY column
    * and the oracle mirrors it on the source bytes (the x5b
    * convention); a spec pins this row-identical to the typed
    * mapPartitions path, so the Dataset implementation is transitively
    * oracle-gated — the x5 family's last spec-only surface closed.
    * Scale: pure per-row expression work after a 4× explode; no
    * shuffle.
    */
  val x5fFrameManifest: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"), expr("length(payload)").as("len"),
        col("payload"), explode(expr("sequence(0L, 3L)")).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr("substring(payload, CAST(len * frame_idx DIV 4 AS INT) + 1, " +
          "CAST(len * (frame_idx + 1) DIV 4 - len * frame_idx DIV 4 AS INT))")
          .as("fb"))
      .select(col("doc_id"), col("frame_idx"),
        expr("CAST(length(fb) AS BIGINT)").as("n_bytes"),
        md5(col("fb")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  val x5fSql: String =
    """SELECT doc_id, frame_idx, CAST(strlen(fb) AS BIGINT) AS n_bytes,
      | md5(fb) AS frame_md5
      |FROM (SELECT doc_id, u AS frame_idx,
      |  substr(text, (strlen(text) * u) // 4 + 1,
      |    (strlen(text) * (u + 1)) // 4 - (strlen(text) * u) // 4) AS fb
      | FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS u)
      | WHERE doc_id % 3 = 2)
      |ORDER BY doc_id, frame_idx""".stripMargin

  val x5eSql: String = {
    val sums = (1 to 16).map(p =>
      s"sum(CASE WHEN substr(h, $p, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$p")
      .mkString(", ")
    val bits = (1 to 16)
      .map(p => s"CASE WHEN s$p > 0 THEN '1' ELSE '0' END").mkString(" || ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, substr(simhash, ${4 * b + 1}, 4) AS key FROM sig")
      .mkString(" UNION ALL ")
    val ham = (1 to 16)
      .map(p => s"CASE WHEN substr(sa.simhash, $p, 1) <> substr(sb.simhash, $p, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH g0 AS (SELECT doc_id, text, unnest(generate_series(1, strlen(text) - 3)) AS i
       |      FROM documents WHERE strlen(text) >= 4),
       |g AS (SELECT doc_id, md5(substr(text, i, 4)) AS h FROM g0),
       |sums AS (SELECT doc_id, $sums FROM g GROUP BY 1),
       |sig AS (SELECT doc_id, $bits AS simhash FROM sums),
       |bands AS ($bandSelects),
       |capped AS (SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= ${Text.defaultMaxBucket}),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM capped a JOIN capped b
       |          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |h AS (SELECT da, db, CAST($ham AS BIGINT) AS hamming
       |      FROM cand JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id)
       |SELECT da, db, hamming FROM h WHERE hamming <= 3 ORDER BY da, db""".stripMargin
  }

  /** X3 via the typed top-k [[graft.functions.TopK.TopKAgg]] Aggregator:
    * map-side partial aggregation ships at most k hits per partition to the
    * shuffle — the scale-preferred formulation vs the row_number window
    * (which shuffles every candidate row). Output is value-identical to
    * x3_cosine_topk, checked against the same oracle SQL.
    */
  val x3dTopKAgg: Q = (spark, dir) => {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val cand = bruteCandidates(e.filter(col("vec_id") < 10), e)
    cand.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => TopK.Hit(t._3, t._2))
      .agg(TopK.topK(5).toColumn)
      .flatMap { case (q, hits) =>
        hits.zipWithIndex.map { case (h, i) => (q, i + 1, h.id, h.sim) } }
      .toDF("q_id", "rank", "vec_id", "sim")
      .orderBy(col("q_id"), col("rank"))
  }

  // --------------------------------------------------------------- X3 IVF
  /** Deterministic spherical k-means (Lloyd) for IVF coarse quantization,
    * fit DRIVER-SIDE on a bounded sample: collect the `fitSampleMax`
    * lowest-vec_id vectors once (deterministic sample, sorted — so the
    * accumulation order and therefore every last bit of the centroids is
    * run-independent), Lloyd-iterate locally (k×dim model, microseconds),
    * and leave only the ASSIGNMENT distributed. This is the 100 TB shape:
    * a coarse quantizer is always fit on a sample — iterating Lloyd over
    * the full corpus would re-scan 100 TB per iteration for a model that
    * converges on 10⁵ points.
    * Init = the k lowest-vec_id vectors; centroids L2-normalized each
    * round so nearest-centroid = max dot product; empty clusters keep
    * their previous centroid.
    */
  /** Session-scoped memo of driver-side model fits (coarse centroids, PQ
    * codebooks), keyed by the CANONICALIZED logical plan of the corpus
    * plus the fit parameters: the fits are pure functions of the
    * deterministic sample, and seven registered x3/x4 serving queries
    * re-ran the identical fit at every construction (twice per bench
    * run) — ~0.3–0.9 s of single-threaded driver Lloyd each, invisible
    * to task metrics. Same discipline as [[graft.Staged]] and the x4v
    * `genModelCache`: production refits offline and rarely (the
    * frozen-model cadence these queries' scaladocs already document);
    * entries of stopped sessions evicted opportunistically; first
    * consumer in a session still pays the fit inside its timed window
    * (the bench cold pass), so nothing is precomputed across runs.
    */
  private val fitCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), AnyRef]
  private def memoFit[T <: AnyRef](corpus: DataFrame, params: String)
      (fit: => T): T = {
    fitCache.filterInPlace { case ((s, _, _), _) =>
      !s.sparkContext.isStopped }
    // the CANONICALIZED PLAN OBJECT is the key (structural equality —
    // for a LocalRelation that includes the rows themselves; its
    // toString does NOT, which would alias different literal tables)
    val key = (corpus.sparkSession, params,
      corpus.queryExecution.logical.canonicalized)
    fitCache.getOrElseUpdate(key, fit).asInstanceOf[T]
  }

  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
      fitSampleMax: Int = 100000): Array[Array[Float]] =
    memoFit(corpus, s"kmeans|$k|$iters|$fitSampleMax")(
      kmeansCentroidsUncached(corpus, k, iters, fitSampleMax))

  private def kmeansCentroidsUncached(corpus: DataFrame, k: Int, iters: Int,
      fitSampleMax: Int): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(fitSampleMax)
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    var centroids = sample.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        // nearest centroid by dot product, first-match tie-break (the
        // driver-side twin of assignCluster's array_position argmax)
        var best = 0; var bestDot = Double.MinValue
        for (c <- 0 until k) {
          var d = 0.0
          for (i <- 0 until dim) d += v(i).toDouble * centroids(c)(i).toDouble
          if (d > bestDot) { bestDot = d; best = c }
        }
        for (i <- 0 until dim) sums(best)(i) += v(i).toDouble
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (prev, c) =>
        if (counts(c) == 0) prev
        else {
          val mean = sums(c).map(_ / counts(c))
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm > 0) mean.map(x => (x / norm).toFloat) else prev
        }
      }
    }
    centroids
  }

  /** Distributed nearest-centroid assignment: each dot evaluated once into
    * an array, argmax via array_position (first-match tie-break —
    * deterministic).
    */
  def assignCluster(vectors: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val dots = centroids.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    vectors.withColumn("__dots", array(dots: _*))
      .withColumn("cluster",
        (expr("array_position(__dots, array_max(__dots))") - 1).cast("int"))
      .drop("__dots")
  }

  /** IVF search: probe the `nprobe` nearest centroid lists instead of the
    * whole corpus — the trained-quantizer counterpart of the sign-bit LSH
    * path (expected corpus-scan reduction ≈ nlist/nprobe).
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, iters)
    val assignedCorpus = assignCluster(corpus, centroids)
    // per query: explode its nprobe nearest clusters
    val qDots = centroids.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    val probes = queries
      .withColumn("__dots", array(qDots: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(expr(
          s"""transform(
             | slice(array_sort(zip_with(__dots, sequence(0, ${nlist - 1}),
             |   (d, i) -> struct(-d AS nd, i AS ci))), 1, $nprobe),
             | s -> s.ci)""".stripMargin)).as("cluster"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes)
      .join(assignedCorpus, Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** Rows-only driver entry (the IVF list assignment has no SQL twin, so
    * no hash oracle on the hits themselves; the oracle-checkable recall
    * bound is x3f below, and FunctionsSpec asserts recall ≥ 0.5).
    */
  val x3eCosineIvf: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    ivfSearch(e.filter(col("vec_id") < 10), e, k = 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X3f — the IVF accuracy contract as an oracle-checked boolean: per
    * query, recall@5 of the IVF search against the exact brute-force top-5
    * is ≥ 0.6. The oracle can't run IVF, but hash-matching the booleans
    * certifies the bound held for EVERY query id in the committed result —
    * the same bound-not-values pattern as q9c_approx_bound.
    */
  val x3fIvfRecall: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val brute = cosineTopK(q, e, 5).select(col("q_id"), col("vec_id"))
    val ivf = ivfSearch(q, e, k = 5).select(col("q_id"), col("vec_id"))
    val hits = brute.join(ivf, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3fSql: String =
    """SELECT vec_id AS q_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  // -------------------------------------- X3o multi-vector doc retrieval
  /** X3o — MULTI-VECTOR document retrieval (the late-interaction shape:
    * long documents embed as a GROUP of chunk vectors, and a document's
    * score against a query is the MAX similarity over its chunks —
    * MaxSim, which with a single-vector query is exactly "the doc's
    * best-matching passage"). Whole-doc single-vector retrieval dilutes
    * a strong passage inside an average; chunk-max finds it. Here the
    * chunk grouping is `vec_id DIV 8` (8 chunk vectors per document);
    * the query's own document is excluded.
    *
    * Scale: aggregation-BEFORE-ranking — chunk similarities reduce
    * map-side per (query, doc) (max is an ordinary partial agg), so
    * the shuffle and the top-k window carry one row per (query, doc),
    * never per chunk; the scoring itself is the broadcast-query brute
    * pass (or any ANN path of this file — the MaxSim reduction
    * composes with whichever candidate generator runs upstream).
    */
  val x3oMaxsimDocs: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val scored = bruteCandidates(q, e)
      .withColumn("doc_id", expr("vec_id DIV 8"))
      .filter(col("doc_id") =!= expr("q_id DIV 8"))
      .groupBy(col("q_id"), col("doc_id")).agg(max(col("sim")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("doc_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  val x3oSql: String =
    s"""WITH sims AS (
       | SELECT q.vec_id AS q_id, c.vec_id // 8 AS doc_id,
       |  ${Portable.dotSql("q.embedding", "c.embedding", dim)} AS sim
       | FROM embeddings q CROSS JOIN embeddings c
       | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  AND c.vec_id // 8 <> q.vec_id // 8),
       |agg AS (SELECT q_id, doc_id, max(sim) AS sim FROM sims GROUP BY 1, 2)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, doc_id, sim
       |FROM agg WINDOW w AS (PARTITION BY q_id ORDER BY sim DESC, doc_id)
       |QUALIFY rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- X3m/X3n filtered ANN
  /** FILTERED similarity search — top-k under a metadata predicate (the
    * production "vector search with filters" shape: same-tenant,
    * same-language, same-license neighbors only; every serving stack
    * grew this because global neighbors of a query are useless when the
    * consumer may only read its own partition of the corpus).
    *
    * Exact form: the filter columns BECOME the join key — the broadcast
    * query set equi-joins the corpus on `filterCols`, so a corpus row
    * that fails the predicate is never scored, never shuffled, never
    * even hash-probed more than once. This is strictly cheaper than the
    * unfiltered brute path (whose crossJoin scores everything), and at
    * 100 TB it composes with partition pruning: a corpus laid out by the
    * filter column reads only matching files.
    */
  def filteredCosineTopK(queries: DataFrame, corpus: DataFrame,
      filterCols: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val qSide = queries.select(col("vec_id").as("q_id")
      +: col("embedding").as("q_emb") +: filterCols.map(col): _*)
    broadcast(qSide)
      .join(corpus.select(col("vec_id") +: col("embedding")
        +: filterCols.map(col): _*), filterCols)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The scale path of filtered ANN: IVF routing with the predicate
    * COMPOSED into the probe key — candidates must match (cluster,
    * filterCols), so the probe join touches only the intersection of
    * the nprobe nearest lists and the query's metadata partition.
    * Pre-filtering (shrink corpus, then route) would need one quantizer
    * per predicate value; post-filtering (route, then filter) starves k
    * when the predicate is selective — keying the join on both is the
    * standard resolution, and the plan shape is identical to
    * [[ivfSearch]] with a wider equi-key.
    */
  def ivfSearchFiltered(queries: DataFrame, corpus: DataFrame,
      filterCols: Seq[String], k: Int, nlist: Int = 16, nprobe: Int = 12,
      iters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, iters)
    val assignedCorpus = assignCluster(corpus, centroids)
    val qDots = centroids.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    val probes = queries
      .withColumn("__dots", array(qDots: _*))
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_emb")
        +: filterCols.map(col) :+
        explode(expr(
          s"""transform(
             | slice(array_sort(zip_with(__dots, sequence(0, ${nlist - 1}),
             |   (d, i) -> struct(-d AS nd, i AS ci))), 1, $nprobe),
             | s -> s.ci)""".stripMargin)).as("cluster"): _*)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes)
      .join(assignedCorpus, "cluster" +: filterCols)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** X3m — exact filtered ANN, hash-exact: per query, top-3 cosine
    * neighbors restricted to the query's own `label` partition.
    */
  val x3mFilteredAnn: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    filteredCosineTopK(e.filter(col("vec_id") < 10), e, Seq("label"), 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  val x3mSql: String =
    s"""WITH sims AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |  ${Portable.dotSql("q.embedding", "c.embedding", dim)} AS sim
       | FROM embeddings q JOIN embeddings c ON q.label = c.label
       | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, vec_id, sim
       |FROM sims WINDOW w AS (PARTITION BY q_id ORDER BY sim DESC, vec_id)
       |QUALIFY rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** X3n — the filtered-IVF accuracy contract as oracle booleans (the
    * x3f pattern): per query, recall@5 of the (cluster, label)-keyed
    * probe against the exact label-restricted brute-force top-5 is
    * ≥ 0.6. Routing error compounds with the filter (a true neighbor
    * must share BOTH a probed list and the label — measured at nprobe=8
    * one sf0.01 query recalls only 2/5), so the filtered probe defaults
    * to nprobe=12: the filtered-search analogue of x3l's wider routing
    * under frozen models, and the standard production response to
    * selective filters (probe wider, or fall back to an exact scan of
    * the predicate partition — which [[filteredCosineTopK]] IS).
    */
  val x3nFilteredIvf: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val brute = filteredCosineTopK(q, e, Seq("label"), 5)
      .select(col("q_id"), col("vec_id"))
    val ivf = ivfSearchFiltered(q, e, Seq("label"), k = 5)
      .select(col("q_id"), col("vec_id"))
    val hits = brute.join(ivf, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3nSql: String =
    """SELECT vec_id AS q_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- X3j IVF-PQ
  /** Product-quantization codebooks: split the 64-d space into `m`
    * subspaces of `dim/m` dims and Lloyd-fit `ksub` L2 centroids per
    * subspace on the SAME bounded deterministic driver sample as the IVF
    * coarse quantizer (sorted lowest-vec_id prefix — every bit of every
    * codebook is run-independent). Plain Euclidean means here, NOT the
    * spherical variant: PQ reconstructs subvectors, so the codebook must
    * live where the data lives, not on the unit sphere.
    * Model size: m·ksub·(dim/m) = ksub·dim floats — microscopic; the fit
    * is the x3e bounded-sample class (a full-corpus fit would rescan
    * 100 TB per Lloyd iteration to train a model that converges on 10⁵
    * points).
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
      fitSampleMax: Int = 100000): Array[Array[Array[Float]]] =
    memoFit(corpus, s"pq|$m|$ksub|$iters|$fitSampleMax") {
    val sample: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(fitSampleMax)
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    fitSubspaceBooks(sample, m, ksub, iters)
    }

  /** Per-subspace L2 Lloyd fit shared by the raw ([[pqCodebooks]]) and
    * residual ([[pqCodebooksResidual]]) PQ trainers.
    */
  private def fitSubspaceBooks(sample: Array[Array[Float]], m: Int,
      ksub: Int, iters: Int): Array[Array[Array[Float]]] = {
    // a non-divisor m would silently drop the trailing dim % m dimensions
    // from every codebook, code, and ADC score — fail loudly instead
    require(dim % m == 0, s"PQ subspace count m=$m must divide dim=$dim")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val xs = sample.map(_.slice(j * sub, (j + 1) * sub))
      var cents = xs.take(ksub).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](sub))
        val counts = new Array[Long](ksub)
        xs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          for (c <- 0 until ksub) {
            var d = 0.0
            for (i <- 0 until sub) {
              val t = v(i).toDouble - cents(c)(i).toDouble; d += t * t
            }
            if (d < bestD) { bestD = d; best = c }
          }
          for (i <- 0 until sub) sums(best)(i) += v(i).toDouble
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (counts(c) == 0) prev
          else sums(c).map(x => (x / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Distributed PQ encode: each vector becomes `m` small codes (one byte
    * each at ksub ≤ 256) — a 32× reduction of the scan footprint behind
    * every subsequent search (64 float32 → 8 codes). Nearest codebook
    * entry per subspace via the dot-product identity
    * argmin‖v−c‖² = argmax(v·c − ‖c‖²/2), so the hot loop is the same
    * codegen'd dot expression as every other scorer; argmax is
    * array_position (first match — deterministic tie-break). Pure
    * per-row expression work: no shuffle, nothing leaves the executor.
    */
  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Float]]],
      on: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val sub = dim / m
    val codeCols = codebooks.zipWithIndex.map { case (book, j) =>
      val scores = array(book.map { c =>
        val half = c.map(x => x.toDouble * x.toDouble).sum / 2.0
        VectorFunctions.dotF32(
          slice(col(on), j * sub + 1, sub), typedlit(c.toSeq)) - lit(half)
      }: _*)
      val sc = s"__pq_s$j"
      (sc, scores)
    }
    val withScores = codeCols.foldLeft(vectors) { case (df, (n, e)) =>
      df.withColumn(n, e) }
    val codes = array(codeCols.map { case (n, _) =>
      (expr(s"array_position($n, array_max($n))") - 1).cast("int") }: _*)
    withScores.withColumn("codes", codes)
      .drop(codeCols.map(_._1): _*)
  }

  /** IVF-PQ search — the production 100 TB ANN shape: coarse IVF routing
    * (probe `nprobe` of `nlist` inverted lists) × in-list ADC scoring
    * over PQ codes × exact re-rank of a short list.
    *
    * Asymmetric distance computation: the query stays full-precision and
    * precomputes, per subspace, its dot product with every codebook entry
    * (an m×ksub lookup table, built once per query and broadcast with
    * it); a candidate's approximate similarity is then m table lookups —
    * `Σⱼ lut[j][code_j]` — with NO float-vector load for the corpus side.
    * dot(q, x̂) decomposes exactly over subspaces, so ADC is exact w.r.t.
    * the quantized corpus; the loss vs true dot is only quantization
    * error, which the final re-rank (exact dotF32 on the top `shortlist`
    * per query — the only rows whose full vectors are touched) absorbs.
    * Scan bytes per probed list are the 8-byte code rows, not 256-byte
    * vectors: with nprobe/nlist = 1/4 routing and 32× code compression,
    * the search reads ~1/128th of the corpus bytes at full recall@5 ≥ 0.6
    * (measured 1.0 at fixture scale; bounded by x3j's oracle twin).
    * `shortlist` is the recall/cost knob and must grow with list size,
    * not stay proportional to k: at sf0.1 (50k vectors, ~12.5k probed
    * candidates/query) 50 was measurably too tight (2/10 queries under
    * the 0.6 bound — ADC truncation, not routing) and 200 restores full
    * recall for the cost of 150 more exact dots per query. Random unit
    * vectors are PQ's worst case (no cluster structure to quantize), so
    * fixture-tuned values here are conservative for real embeddings.
    */
  def pqSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 3, shortlist: Int = 200): DataFrame = {
    val coarse = kmeansCentroids(corpus, nlist, iters)
    val books = pqCodebooks(corpus, m, ksub, iters)
    pqSearchIndex(queries, encodeForIndex(corpus, coarse, books),
      coarse, books, k, nprobe, shortlist)
  }

  /** The index-side half of [[pqSearch]], factored so the incremental
    * maintainer (T16, [[graft.streaming.Streams.vectorIndexBatch]]) can
    * encode micro-batches against the SAME frozen models the batch
    * index used: coarse-assign + PQ-encode, projected to the stored
    * index row (cluster, vec_id, codes, embedding). Pure per-row
    * expression work — no shuffle, nothing leaves the executor.
    */
  def encodeForIndex(vectors: DataFrame, coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame =
    encodeForIndexCarry(vectors, coarse, books, Nil)

  /** [[encodeForIndex]] with CARRIED metadata columns: filterable
    * attributes (label, language, license tier …) ride in the stored
    * index row itself, which is what makes FILTERED serving possible
    * without a metadata join at query time — at 100 TB the filter
    * column must live WITH the codes, not in a side table the probe
    * would have to join per search. The T16 maintainer accepts this as
    * its encoder parameter unchanged (the store layout is
    * schema-tolerant), so a carried column survives the fold,
    * compaction, and replay like any other index field.
    */
  def encodeForIndexCarry(vectors: DataFrame, coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]],
      carry: Seq[String]): DataFrame =
    pqEncode(assignCluster(vectors, coarse), books)
      .select((Seq("cluster", "vec_id", "codes", "embedding") ++ carry)
        .map(col): _*)

  /** Deterministic stub embedder (the X5 stub discipline: no embedding
    * model ships in this environment, so the MODEL is a deterministic
    * fake while the Spark-side plumbing — schema, normalization,
    * batching — is real): `dim` pseudo-random floats derived from
    * `xxhash64(text, dim-index)`, L2-normalized onto the unit sphere so
    * every downstream cosine path applies unchanged. Pure codegen'd
    * expression work, embarrassingly parallel — the exact shape a real
    * `mapInPandas` model call slots into. Same text ⇒ same embedding
    * (re-embedding an UNCHANGED doc is a no-op upsert); any text change
    * ⇒ a fresh direction.
    */
  def stubEmbed(df: DataFrame, textCol: String = "text",
      out: String = "embedding"): DataFrame =
    df.withColumn("__raw", expr(
        s"transform(sequence(0, ${dim - 1}), i -> " +
          s"CAST(pmod(xxhash64(`$textCol`, i), 2001) - 1000 AS DOUBLE) / 1000.0)"))
      .withColumn("__norm", expr(
        "sqrt(aggregate(__raw, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v))"))
      // an (astronomically unlikely) all-zero draw falls back to the
      // uniform unit vector: 64 · (1/8)² = 1
      .withColumn(out, expr(
        "transform(__raw, v -> CAST(CASE WHEN __norm > 0 THEN v / __norm " +
          "ELSE 0.125 END AS FLOAT))"))
      .drop("__raw", "__norm")

  /** The searcher half of [[pqSearch]]: coarse routing, ADC over the
    * stored codes, exact re-rank — over a PRE-ENCODED index frame
    * (cluster, vec_id, codes, embedding), which may come from the batch
    * encode or from the T16 incrementally-maintained store; the search
    * plan is identical either way, which is what makes the stream≡batch
    * equivalence (`x3l`, T16 spec) exact rather than approximate.
    */
  def pqSearchIndex(queries: DataFrame, index: DataFrame,
      coarse: Array[Array[Float]], books: Array[Array[Array[Float]]],
      k: Int, nprobe: Int = 4, shortlist: Int = 200): DataFrame = {
    val nlist = coarse.length
    val m = books.length
    val sub = dim / m
    // query side: nprobe nearest coarse lists + the m×ksub ADC table
    val qDots = coarse.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    val lut = array(books.zipWithIndex.map { case (book, j) =>
      array(book.map(c => VectorFunctions.dotF32(
        slice(col("embedding"), j * sub + 1, sub), typedlit(c.toSeq))): _*)
    }: _*)
    val probes = queries
      .withColumn("__dots", array(qDots: _*))
      .withColumn("__lut", lut)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("__lut").as("lut"),
        explode(expr(
          s"""transform(
             | slice(array_sort(zip_with(__dots, sequence(0, ${nlist - 1}),
             |   (d, i) -> struct(-d AS nd, i AS ci))), 1, $nprobe),
             | s -> s.ci)""".stripMargin)).as("cluster"))
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes)
      .join(index, Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"),
        expr("aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), " +
          "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("adc"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** FILTERED search over a PRE-ENCODED index (x3n × T16): the
    * predicate columns compose into the probe key — candidates must
    * match (cluster, filterCols...) — so non-matching index rows are
    * never ADC-scored, and the index may be the batch encode OR the
    * incrementally-maintained store (same plan either way, the T16
    * property). Requires the index rows to CARRY the filter columns
    * ([[encodeForIndexCarry]]); the query side takes its own values of
    * those columns as the predicate, the metadata-constrained-search
    * convention shared with [[filteredCosineTopK]]. nprobe defaults to
    * 12, the x3n lesson: routing error compounds with the filter.
    */
  def pqSearchIndexFiltered(queries: DataFrame, index: DataFrame,
      filterCols: Seq[String], coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]], k: Int,
      nprobe: Int = 12, shortlist: Int = 200): DataFrame = {
    val nlist = coarse.length
    val m = books.length
    val sub = dim / m
    val qDots = coarse.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    val lut = array(books.zipWithIndex.map { case (book, j) =>
      array(book.map(c => VectorFunctions.dotF32(
        slice(col("embedding"), j * sub + 1, sub), typedlit(c.toSeq))): _*)
    }: _*)
    val probes = queries
      .withColumn("__dots", array(qDots: _*))
      .withColumn("__lut", lut)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("__lut").as("lut"),
        explode(expr(
          s"""transform(
             | slice(array_sort(zip_with(__dots, sequence(0, ${nlist - 1}),
             |   (d, i) -> struct(-d AS nd, i AS ci))), 1, $nprobe),
             | s -> s.ci)""".stripMargin)).as("cluster")) ++
        filterCols.map(col): _*)
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes)
      .join(index, "cluster" +: filterCols)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"),
        expr("aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), " +
          "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("adc"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** X3q — filtered serving over the (maintainable) index as an
    * oracle-checked bound: per query, recall@5 of the filtered
    * index search vs the exact label-restricted brute force ≥ 0.6
    * (the x3n pattern, one level deeper: the predicate now composes
    * into the probe key of the PQ-coded index, not a full-vector
    * corpus scan).
    */
  val x3qFilteredIndex: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val coarse = kmeansCentroids(e, 16, 3)
    val books = pqCodebooks(e, 8, 16, 3)
    val index = encodeForIndexCarry(e, coarse, books, Seq("label"))
    val brute = filteredCosineTopK(q, e, Seq("label"), 5)
      .select(col("q_id"), col("vec_id"))
    val got = pqSearchIndexFiltered(q, index, Seq("label"), coarse, books,
        k = 5).select(col("q_id"), col("vec_id"))
    val hits = brute.join(got, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3qSql: String =
    """SELECT vec_id AS q_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  /** Per-vector PQ reconstruction error ‖v − v̂‖² against FROZEN
    * codebooks — the index-health statistic that schedules the offline
    * refit behind the T16 frozen-model cadence: vectors from a
    * distribution the codebooks were fit on reconstruct with low error,
    * while a drifted increment (new embedding model, new domain — the
    * spec uses the negated-vector worst case) reconstructs measurably
    * worse, and a rising per-batch mean is the refit alarm BEFORE
    * serving recall degrades. Pure per-row expression work over the
    * increment (codebooks ride as plan literals): monitoring costs what
    * encoding costs, nothing more.
    */
  def pqReconstructionError(vectors: DataFrame,
      books: Array[Array[Array[Float]]],
      on: String = "embedding"): DataFrame = {
    val m = books.length
    val sub = dim / m
    val encoded = pqEncode(vectors, books, on)
    val errCols: Seq[Column] = books.toSeq.zipWithIndex.map { case (book, j) =>
      val bookLit = typedlit(book.map(_.toSeq).toSeq)
      aggregate(
        zip_with(
          slice(col(on), j * sub + 1, sub),
          element_at(bookLit, element_at(col("codes"), j + 1) + 1),
          (v, c) => {
            val d = v.cast("double") - c.cast("double"); d * d
          }),
        lit(0.0), (a, x) => a + x)
    }
    encoded.withColumn("recon_err", errCols.reduce(_ + _))
  }

  /** Residual-space twin of [[pqReconstructionError]]: ‖r − r̂‖² where
    * r = v − c(v). Because v̂ = c + r̂, this IS the full-vector
    * reconstruction error of the residual index — the drift monitor for
    * X3p-encoded stores, same cost as encoding.
    */
  def pqReconstructionErrorResidual(vectors: DataFrame,
      coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame =
    pqReconstructionError(
      assignCluster(vectors, coarse).withColumn("__resid", residCol(coarse)),
      books, on = "__resid").drop("__resid")

  // --------------------------------------- X3p residual IVF-PQ (FAISS form)
  /** Residual PQ codebooks: fit the per-subspace quantizers on
    * r = v − c(v) (each sample vector minus its nearest coarse
    * centroid) instead of on raw vectors — the FAISS IndexIVFPQ
    * default, and the reason it wins on clustered data: residuals
    * concentrate near the origin with per-subspace variance bounded by
    * WITHIN-cluster spread, so the same ksub entries quantize finer
    * than raw-space books that must also span the BETWEEN-cluster
    * layout. Codebooks are global (shared across clusters), which is
    * what keeps the query-side ADC table cluster-independent. Same
    * bounded deterministic driver sample as every other fit; coarse
    * assignment uses the dot-product argmax so it matches
    * [[assignCluster]] exactly.
    */
  def pqCodebooksResidual(corpus: DataFrame, coarse: Array[Array[Float]],
      m: Int, ksub: Int, iters: Int,
      fitSampleMax: Int = 100000): Array[Array[Array[Float]]] =
    // the coarse model is itself a deterministic function of its inputs;
    // its FULL contents join the key (exact float bits rendered per
    // element) so a different coarse fit cannot alias — a 32-bit
    // deepHashCode was used here before, which a hash collision between
    // two different coarse models would have silently aliased (r17
    // ADVICE); the k×dim render is a few KB, built once per fit lookup
    memoFit(corpus, s"pqres|$m|$ksub|$iters|$fitSampleMax|" +
        coarse.map(_.map(java.lang.Float.floatToRawIntBits)
          .mkString(",")).mkString(";")) {
    val sample: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(fitSampleMax)
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    val resids = sample.map { v =>
      var best = 0; var bestDot = Double.MinValue
      for (c <- coarse.indices) {
        var d = 0.0
        for (i <- 0 until dim) d += v(i).toDouble * coarse(c)(i).toDouble
        if (d > bestDot) { bestDot = d; best = c }
      }
      Array.tabulate(dim)(i => v(i) - coarse(best)(i))
    }
    fitSubspaceBooks(resids, m, ksub, iters)
    }

  /** The per-row residual v − c(cluster): float-exact elementwise
    * subtraction against the broadcast centroid table.
    */
  private def residCol(coarse: Array[Array[Float]]): Column =
    zip_with(col("embedding"),
      element_at(typedlit(coarse.map(_.toSeq).toSeq), col("cluster") + 1),
      (v, c) => v - c)

  /** Residual-encode for the index store: coarse-assign, subtract the
    * assigned centroid, PQ-encode the residual. Same stored row shape
    * as [[encodeForIndex]] (cluster, vec_id, codes, embedding) — the
    * T16 incremental maintainer and the staged-store protocol work
    * unchanged over residual codes; only fit and search must agree on
    * the residual convention.
    */
  def encodeForIndexResidual(vectors: DataFrame, coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame =
    pqEncode(
      assignCluster(vectors, coarse).withColumn("__resid", residCol(coarse)),
      books, on = "__resid")
      .select(col("cluster"), col("vec_id"), col("codes"), col("embedding"))

  /** Residual IVF-PQ search. ADC still decomposes exactly:
    * dot(q, x̂) = dot(q, c + r̂) = dot(q, c) + Σⱼ lut[j][codeⱼ] — the
    * first term is the SAME per-cluster dot the routing pass already
    * computes (carried through the probe explode instead of dropped),
    * and the residual LUT is one m×ksub table per query, shared across
    * probed clusters because codebooks are global. Identical scan
    * bytes, shuffle shape, and re-rank as [[pqSearchIndex]]; the only
    * new arithmetic is one add per candidate.
    */
  def pqSearchIndexResidual(queries: DataFrame, index: DataFrame,
      coarse: Array[Array[Float]], books: Array[Array[Array[Float]]],
      k: Int, nprobe: Int = 4, shortlist: Int = 200): DataFrame = {
    val nlist = coarse.length
    val m = books.length
    val sub = dim / m
    val qDots = coarse.map(c =>
      VectorFunctions.dotF32(col("embedding"), typedlit(c.toSeq)))
    val lut = array(books.zipWithIndex.map { case (book, j) =>
      array(book.map(c => VectorFunctions.dotF32(
        slice(col("embedding"), j * sub + 1, sub), typedlit(c.toSeq))): _*)
    }: _*)
    val probes = queries
      .withColumn("__dots", array(qDots: _*))
      .withColumn("__lut", lut)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("__lut").as("lut"),
        explode(expr(
          s"""transform(
             | slice(array_sort(zip_with(__dots, sequence(0, ${nlist - 1}),
             |   (d, i) -> struct(-d AS nd, i AS ci))), 1, $nprobe),
             | s -> struct(s.ci AS cluster, -s.nd AS cdot))""".stripMargin))
          .as("p"))
      .select(col("q_id"), col("q_emb"), col("lut"),
        col("p.cluster").as("cluster"), col("p.cdot").as("cdot"))
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes)
      .join(index, Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"),
        (col("cdot") +
          expr("aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)")).as("adc"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("vec_id"),
        VectorFunctions.dotF32(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("sim"))
  }

  /** Fit + encode + search in one call — the batch twin of the stored
    * residual index.
    */
  def pqSearchResidual(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 3, shortlist: Int = 200): DataFrame = {
    val coarse = kmeansCentroids(corpus, nlist, iters)
    val books = pqCodebooksResidual(corpus, coarse, m, ksub, iters)
    pqSearchIndexResidual(queries, encodeForIndexResidual(corpus, coarse, books),
      coarse, books, k, nprobe, shortlist)
  }

  /** X3p — residual IVF-PQ's accuracy contract as an oracle-checked
    * boolean (the x3j/x3f pattern): per query, recall@5 vs exact brute
    * force ≥ 0.6, through the full residual fit → encode → route → ADC
    * → re-rank pipeline.
    */
  val x3pPqResidualRecall: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val brute = cosineTopK(q, e, 5).select(col("q_id"), col("vec_id"))
    val pq = pqSearchResidual(q, e, k = 5).select(col("q_id"), col("vec_id"))
    val hits = brute.join(pq, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3pSql: String =
    """SELECT vec_id AS q_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  /** X3j — the IVF-PQ accuracy contract as an oracle-checked boolean
    * (the x3f pattern): per query, recall@5 of the full
    * coarse-route × ADC-shortlist × re-rank pipeline against the exact
    * brute-force top-5 is ≥ 0.6.
    */
  val x3jPqRecall: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val brute = cosineTopK(q, e, 5).select(col("q_id"), col("vec_id"))
    val pq = pqSearch(q, e, k = 5).select(col("q_id"), col("vec_id"))
    val hits = brute.join(pq, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3jSql: String =
    """SELECT vec_id AS q_id, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  // ------------------------------------- X3l incremental index maintenance
  /** X3l — the T16 incremental-index contract as oracle booleans (the
    * x3f pattern): the embeddings table arrives as three staged
    * increments plus a LATER re-embed batch (every `vec_id % 10 == 0`
    * vector re-arrives with a CHANGED embedding — the negation, still
    * unit-norm), each encoded against models FROZEN before any
    * increment arrived (the production cadence: quantizers refit
    * offline, rarely; increments upsert continuously). The incremental
    * index is the batch-tagged union folded latest-batch-wins per
    * vec_id — exactly what [[graft.streaming.Streams.readVectorIndex]]
    * computes over the durable store, here expressed inline so the
    * driver oracle can check it.
    *
    * Per query, two oracle-checked booleans: `same_ok` — the
    * incrementally-built index serves IDENTICAL top-k to an all-at-once
    * batch encode of the latest corpus under the same frozen models
    * (exact equivalence, not approximate: same rows in, same
    * deterministic expressions — and NOT vacuous: an unfolded duplicate
    * or a stale encoding of a re-embedded vector changes the served
    * ranks) — and `recall_ok`, recall@5 ≥ 0.6 vs exact brute force over
    * the latest corpus (the serving-quality floor, x3f's bound).
    */
  val x3lIncrIndex: Q = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    // models frozen on the pre-re-embed corpus
    val coarse = kmeansCentroids(e, 16, 3)
    val books = pqCodebooks(e, 8, 16, 3)
    val reemb = e.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding", expr("transform(embedding, v -> -v)"))
    val latest = e.filter(col("vec_id") % 10 =!= 0).unionByName(reemb)
    // increments 0..2 carry the original vectors; batch 3 re-embeds.
    // The batch tag is attached BEFORE one shared encode over the
    // increment union (encodeForIndexCarry rides `b` through) — the
    // per-row encode expressions are identical either way, but building
    // four separate encode plans re-ran Catalyst analysis over the
    // model-literal-laden tree per increment: ~0.9 s of driver
    // construction time per execution at sf0.1, 4× the single-plan form
    val tagged = (Seq(
      e.filter(col("vec_id") % 3 === 0),
      e.filter(col("vec_id") % 3 === 1),
      e.filter(col("vec_id") % 3 === 2)) :+ reemb).zipWithIndex
      .map { case (inc, i) => inc.withColumn("b", lit(i.toLong)) }
    val incrIndex = graft.sources.LakeFormat.newestPerKey(
        encodeForIndexCarry(tagged.reduce(_ unionByName _), coarse, books,
          Seq("b")),
        Seq(col("vec_id")), col("b").desc)
      .drop("b")
    val batchIndex = encodeForIndex(latest, coarse, books)
    val q = latest.filter(col("vec_id") < 10)
    // wider routing than x3j (nprobe 8/16, shortlist 400): re-embedded
    // vectors are quantized by codebooks FROZEN before they existed, so
    // their ADC error is the worst in the index — the realistic cost of
    // the frozen-model cadence, paid in probe width until the next
    // offline refit (production refits when recall drifts; the bound
    // here is the drift alarm made into an oracle check)
    val si = pqSearchIndex(q, incrIndex, coarse, books, k = 5,
      nprobe = 8, shortlist = 400)
    val sb = pqSearchIndex(q, batchIndex, coarse, books, k = 5,
      nprobe = 8, shortlist = 400)
    val same = si.select(col("q_id"), col("rank"), col("vec_id").as("iv"))
      .join(sb.select(col("q_id"), col("rank"), col("vec_id").as("bv")),
        Seq("q_id", "rank"), "full")
      .groupBy(col("q_id"))
      .agg(min(col("iv") <=> col("bv")).as("same_ok"))
    val brute = cosineTopK(q, latest, 5).select(col("q_id"), col("vec_id"))
    val hits = brute.join(si.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(same, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("same_ok"), lit(false)).as("same_ok"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= 30).as("recall_ok")) // ≥3/5
      .orderBy(col("q_id"))
  }
  val x3lSql: String =
    """SELECT vec_id AS q_id, true AS same_ok, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10 ORDER BY 1""".stripMargin

  // ------------------------------------------------ X3g int8 quantization
  /** X3g — per-vector scalar quantization to 8-bit codes: each embedding is
    * mapped to 0..255 by its own min/max (`code = floor((v−lo)/step + 0.5)`,
    * `step = (hi−lo)/255`), the standard SQ8 compression for ANN corpora —
    * at 100 TB of float32 embeddings, int8 codes cut the store (and the
    * scan bytes behind every search) 4×, and per-VECTOR ranges need no
    * global statistics pass, so quantization is pure per-row expression
    * work with no shuffle at all.
    *
    * Correctness contract, oracle-checked per vector: the integer code sum
    * is exact (identical IEEE double chain in both engines feeding an
    * integer floor), and the dequantization round-trip error never exceeds
    * half a quantization step (`recon_ok`) — floor(x+0.5) is within 0.5 of
    * x, scaled by step. `floor(x+0.5)` rather than round(): round's
    * half-even/half-up convention differs across engines; floor does not.
    */
  val x3gQuantize: Q = (spark, dir) =>
    Tables.embeddings(spark, dir)
      .withColumn("lo", array_min(col("embedding")).cast("double"))
      .withColumn("step",
        (array_max(col("embedding")).cast("double") - col("lo")) / lit(255.0))
      // constant vectors (step = 0) carry no information to quantize and
      // would NaN the code arithmetic — excluded identically in the oracle
      .filter(col("step") > 0)
      .withColumn("codes", expr(
        "transform(embedding, v -> CAST(floor((CAST(v AS DOUBLE) - lo)/step + 0.5) AS BIGINT))"))
      .withColumn("code_sum", expr(
        "aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("max_err", expr(
        """aggregate(transform(sequence(1, size(codes)),
          |  i -> abs(lo + CAST(element_at(codes, i) AS DOUBLE)*step
          |           - CAST(element_at(embedding, i) AS DOUBLE))),
          | CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))""".stripMargin))
      .select(col("vec_id"), col("code_sum"),
        (col("max_err") <= col("step") * lit(0.5000001)).as("recon_ok"))
      .orderBy(col("vec_id"))
  val x3gSql: String =
    """WITH p AS (SELECT vec_id, embedding,
      |  CAST(list_min(embedding) AS DOUBLE) AS lo,
      |  (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))/255.0 AS step
      | FROM embeddings),
      |pf AS (SELECT * FROM p WHERE step > 0),
      |c AS (SELECT vec_id, embedding, lo, step,
      |  list_transform(embedding,
      |    v -> CAST(floor((CAST(v AS DOUBLE) - lo)/step + 0.5) AS BIGINT)) AS codes
      | FROM pf),
      |m AS (SELECT vec_id, step,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |  list_max(list_transform(generate_series(1, len(codes)),
      |    i -> abs(lo + CAST(codes[i] AS DOUBLE)*step
      |             - CAST(embedding[i] AS DOUBLE)))) AS max_err
      | FROM c)
      |SELECT vec_id, code_sum, (max_err <= step * 0.5000001) AS recon_ok
      |FROM m ORDER BY vec_id""".stripMargin

  /** X5c — the media decode pipeline with a REAL decoder, oracle-EXACT:
    * documents encode to genuine binary PPM (P6) images
    * ([[Multimodal.encodePpm]] — ASCII header + raw RGB plane, a
    * container any image tool opens), the batch path header-PARSES and
    * pixel-WALKS each payload ([[Multimodal.decodePpm]], strict:
    * malformed input throws) inside `mapPartitions`, and features are
    * integer pixel-bucket sums — so every emitted value is replayable
    * by a SQL oracle that reconstructs the pixel plane from the source
    * row (the fixture text is ASCII, so `ord(substr)` IS the byte — the
    * x5d convention). This closes the former rows-only gap: the decode
    * is not simulated, and the check is hash-exact, not a bound. The
    * float-feature stub path keeps its own x5d cross-engine bound.
    *
    * Scale: encode/decode are per-row byte work inside one
    * mapPartitions pass — embarrassingly parallel, payloads never visit
    * the driver; the emitted head is a handful of BIGINT columns.
    */
  val x5cMediaFeatures: Q = (spark, dir) => {
    val media = Multimodal.attachPpmPayload(Tables.documents(spark, dir))
    Multimodal.extractPpmFeatures(media, dim = 16).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        col("px_sum"),
        element_at(col("buckets"), 1).as("b1"),
        element_at(col("buckets"), 8).as("b8"),
        element_at(col("buckets"), 16).as("b16"))
      .orderBy(col("doc_id"))
  }
  val x5cSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, CAST(w*h*3 - 1 AS INT)),
      |      j -> ord(substr(text, CAST(j % strlen(text) AS INT) + 1, 1))) AS px
      |  FROM d)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(len(px) AS BIGINT) AS n_px,
      |  CAST(list_sum(px) AS BIGINT) AS px_sum,
      |  CAST(list_sum(list_transform(generate_series(1, len(px)),
      |    i -> CASE WHEN (i-1) % 16 = 0 THEN px[i] ELSE 0 END)) AS BIGINT) AS b1,
      |  CAST(list_sum(list_transform(generate_series(1, len(px)),
      |    i -> CASE WHEN (i-1) % 16 = 7 THEN px[i] ELSE 0 END)) AS BIGINT) AS b8,
      |  CAST(list_sum(list_transform(generate_series(1, len(px)),
      |    i -> CASE WHEN (i-1) % 16 = 15 THEN px[i] ELSE 0 END)) AS BIGINT) AS b16
      |FROM p ORDER BY doc_id""".stripMargin

  /** X5d — cross-engine bound for the x5c media decode (the q9c/x3f
    * bound-not-values pattern): the stub decode is integer byte arithmetic
    * (`features[k] = Σ_{i % dim = k} byte_i / 255` in float32), so an
    * independent pure-SQL ground truth is computable in BOTH engines from
    * the UTF-8 bytes (the fixture text is ASCII, so `ascii(substr)` IS the
    * byte). Exact columns hash-checked cross-engine: `byte_sum` (total) and
    * `n_bytes`; `decode_ok` asserts every float feature is within 5e-4 of
    * its exact per-bucket byte sum / 255 — worst-case float32 accumulation
    * error for ≤40 terms/bucket is ~4e-5, while any decode bug (missed
    * byte, wrong modulo, wrong normalization) shifts a bucket by ≥ 32/255 ≈
    * 0.125. The Spark-side ground truth is pure codegen'd expression work
    * (no mapPartitions), independent of the decode path it checks.
    */
  val x5dMediaBound: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val media = Multimodal.attachPayload(docs)
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
      .select(col("doc_id"), col("format"), col("n_bytes").cast("long").as("n_bytes"),
        col("features"))
    val bytesArr = transform(
      sequence(lit(1), octet_length(col("text"))),
      i => ascii(col("text").substr(i, lit(1))).cast("long"))
    val truth = docs.select(col("doc_id").as("t_doc_id"), bytesArr.as("bytes"))
      .select(col("t_doc_id"),
        aggregate(col("bytes"), lit(0L), (a, x) => a + x).as("byte_sum"),
        transform(sequence(lit(0), lit(15)), k =>
          aggregate(
            transform(col("bytes"), (b, i) => when(i % 16 === k, b).otherwise(0L)),
            lit(0L), (a, x) => a + x)).as("bucket_sums"))
    feats.join(truth, col("doc_id") === col("t_doc_id"))
      .select(col("doc_id"), col("format"), col("n_bytes"), col("byte_sum"),
        forall(
          zip_with(col("features"), col("bucket_sums"),
            (f, s) => abs(f.cast("double") - s.cast("double") / 255.0) <= lit(5e-4)),
          ok => ok).as("decode_ok"))
      .orderBy(col("doc_id"))
  }
  val x5dSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, CAST(strlen(text) AS INT)),
      |      i -> ord(substr(text, i, 1))) AS bytes
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
      |  CAST(len(bytes) AS BIGINT) AS n_bytes,
      |  CAST(list_sum(bytes) AS BIGINT) AS byte_sum,
      |  true AS decode_ok
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- X3i k-means Lloyd step
  /** One distributed Lloyd refinement round of spherical k-means
    * (unit vectors: nearest-by-L2 ⇔ max dot product): broadcast the k
    * centroid rows, assign every corpus vector to its best centroid with
    * ONE hash aggregation (`min(struct(-sim, c_id, payload))` — argmax
    * with deterministic ascending-id tiebreak; no per-vector window
    * sort), then recompute centroids with the x7b fixed-point discipline
    * (floor(v·10⁶) BIGINT sums — order-independent, so map-side combine
    * and AQE re-planning cannot change the answer; the final qsum/n/10⁶
    * divisions are exact-integer-input IEEE ops, bit-identical across
    * engines).
    *
    * This is THE scalable k-means iteration shape: per round, one
    * broadcast of k·dim doubles and one shuffle of k·dim integer
    * partials per partition — centroids never round-trip rows through
    * the driver (the complement of x3e's bounded driver sample-fit,
    * which trains the quantizer on a sample precisely because full Lloyd
    * rescans the corpus every iteration). Initial centroids are the
    * deterministic first k corpus vectors so the whole round is
    * oracle-expressible; an empty cluster drops out of the output in
    * both engines (standard Lloyd).
    */
  def kmeansRefine(corpus: DataFrame, k: Int): DataFrame = {
    val cents = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val assigned = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        VectorFunctions.dotF32(col("embedding"), col("c_emb")).as("sim"))
      // (-sim, c_id) is unique per vec_id (ids distinct), so the payload
      // field is never consulted by the struct ordering
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("sim")).as("neg"), col("c_id").as("c_id"),
        col("embedding").as("e"))).as("best"))
      .select(col("best.c_id").as("c_id"), col("best.e").as("embedding"))
    assigned
      .select(col("c_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("c_id"), (col("pos") + 1).cast("long").as("pos"),
        floor(col("v").cast("double") * Mixing.fpScale).cast("long").as("q"))
      .groupBy(col("c_id"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"))
      .select(col("c_id"), col("pos"), col("n"), col("qsum"),
        (col("qsum") / col("n") / Mixing.fpScale).as("centroid"))
  }

  val kmeansK = 8
  val x3iKmeansRefine: Q = (spark, dir) =>
    kmeansRefine(Tables.embeddings(spark, dir), kmeansK)
      .orderBy(col("c_id"), col("pos"))
  val x3iSql: String =
    s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id < $kmeansK),
       |sims AS (SELECT e.vec_id, e.embedding, c.c_id,
       |  ${Portable.dotSql("e.embedding", "c.c_emb", dim)} AS sim
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, c_id,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
       | FROM sims QUALIFY rn = 1),
       |pos AS (SELECT unnest(generate_series(1, $dim)) AS pos),
       |q AS (SELECT c_id, pos,
       |  CAST(floor(CAST(embedding[pos] AS DOUBLE) * ${Mixing.fpScale}) AS BIGINT) AS q
       | FROM asg CROSS JOIN pos),
       |g AS (SELECT c_id, pos, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(q) AS BIGINT) AS qsum FROM q GROUP BY 1, 2)
       |SELECT c_id, pos, n, qsum, qsum / n / ${Mixing.fpScale} AS centroid
       |FROM g ORDER BY c_id, pos""".stripMargin

  // ------------------------------------------ X3k k-means to convergence
  /** Micro-unit quantized corpus: `q_emb[i] = floor(embedding[i]·10⁶)` —
    * the same fixed-point discipline as x3i's centroid sums, moved to the
    * FRONT of the iteration so that everything downstream (assignment
    * dots, centroid updates, movement) is exact BIGINT arithmetic:
    * order-independent, partition-invariant, bit-identical cross-engine.
    * At 100 TB this is not just an oracle trick — integer reductions make
    * the iteration immune to float reduction-order drift across cluster
    * topologies, so a re-run on different hardware converges identically.
    */
  def quantizeEmbeddings(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), expr(
      s"""transform(embedding,
         | v -> CAST(floor(CAST(v AS DOUBLE) * ${Mixing.fpScale}) AS BIGINT))"""
        .stripMargin).as("q_emb"))

  /** The quantized corpus staged per (session, dir): the x3k iteration
    * references the corpus once per Lloyd step (assignment + update) and
    * re-quantizing from parquet per step repeats the same deterministic
    * transform `iters + 1` times — its own scaladoc already conceded a
    * production run caches this table once. Staging keeps the
    * per-iteration PLAN cost visible (each step still scans the
    * materialized rows and runs the k-row broadcast + two aggregations)
    * while the producer pass lands in the bench `staging` attribution
    * like every other session materialized view (guide §1.2).
    *
    * Deliberately a PLAIN checkpoint, not [[graft.Staged.partitioned]]
    * by vec_id: measured at sf0.1 the relayout's 32-way split of the
    * small quantized rows cost more in per-task overhead (12.8 vs 0.5
    * summed task-sec, wall 1.20 vs 1.10) than the argmax exchange it
    * removed — the assignment aggregation's partials are k·dim-bounded,
    * so the exchange it saves is already tiny at any scale.
    */
  def stagedQuantizedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    graft.Staged(spark, s"q_embeddings:$dir")(
      quantizeEmbeddings(graft.Tables.embeddings(spark, dir)))

  /** One exact-integer Lloyd step against an explicit k-row centroid
    * table `(c_id, cq array<long>)`: integer dot per (vector, centroid)
    * — |q|,|c| ≤ 10⁶ ⇒ per-term ≤ 10¹², 64-dim sum ≤ 6.4·10¹³, far
    * inside BIGINT — argmax with low-c_id tie-break, then the x3i
    * per-(cluster, pos) count/sum update. Same plan shape as x3i:
    * one bounded k-row broadcast (BNLJ), one argmax agg, one update agg
    * (PlanSpec-asserted identical operator profile).
    */
  def kmeansStepQ(corpusQ: DataFrame, cents: DataFrame): DataFrame =
    corpusQ.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("q_emb"), col("c_id"),
        // native codegen BIGINT dot (bit-identical to the former
        // aggregate(zip_with(...)) chain — exact integer sum — without
        // the CodegenFallback HOF's per-row array allocation)
        graft.functions.VectorFunctions.dotI64(col("q_emb"), col("cq"))
          .as("dot"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("dot")).as("neg"), col("c_id").as("c_id"),
        col("q_emb").as("e"))).as("best"))
      .select(col("best.c_id").as("c_id"), col("best.e").as("q_emb"))
      .select(col("c_id"), posexplode(col("q_emb")).as(Seq("pos", "qv")))
      .select(col("c_id"), (col("pos") + 1).cast("long").as("pos"), col("qv"))
      .groupBy(col("c_id"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("qsum"))

  /** X3k — Lloyd to CONVERGENCE: `iters` exact-integer steps where the
    * loop is driver control flow ONLY — each iteration round-trips the
    * k·dim centroid table (k·64 longs, ~4 KB) through the driver and
    * re-broadcasts it; corpus rows never leave the executors. Emits one
    * row per (iteration, non-empty cluster) with the cluster size, the
    * centroid's micro-unit component sum, and its total movement
    * `Σ|c_new − c_old|` — the fixed-point convergence trace (movement
    * monotonically collapsing toward 0 IS the Lloyd fixed point made
    * visible). Centroid update `floor(qsum/n)` is computed as the same
    * IEEE double-divide-then-floor in both engines; an empty cluster
    * keeps its previous centroid (carried in the loop, coalesced in the
    * oracle). Oracle: the DuckDB CTE chain unrolls all `iters`
    * iterations — assignment, update, carry, movement — and must
    * hash-match exactly.
    *
    * 100 TB shape: per iteration ONE broadcast of ~4 KB and one shuffle
    * of k·dim integer partials per partition (map-side combined); a
    * production run caches the quantized corpus once — here each step
    * rescans the (tiny) parquet, keeping the bench honest about
    * per-iteration plan cost.
    */
  def kmeansConverge(spark: SparkSession, corpus: DataFrame, k: Int,
      iters: Int): DataFrame =
    kmeansConvergeQ(spark, quantizeEmbeddings(corpus), k, iters)

  /** [[kmeansConverge]] over an ALREADY-QUANTIZED corpus `(vec_id,
    * q_emb)` — the registered query hands in the session-staged table
    * ([[stagedQuantizedEmbeddings]]) so each Lloyd step scans the
    * materialized rows instead of re-reading parquet and re-running the
    * quantization transform per step.
    */
  def kmeansConvergeQ(spark: SparkSession, q: DataFrame, k: Int,
      iters: Int): DataFrame = {
    import spark.implicits._
    var cents: Map[Long, IndexedSeq[Long]] = q.filter(col("vec_id") < k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
    for (it <- 1 to iters) {
      val centsDf = cents.toSeq.sortBy(_._1)
        .map { case (c, a) => (c, a) }.toDF("c_id", "cq")
      val upd = kmeansStepQ(q, centsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3)))
      val byCluster = upd.groupBy(_._1)
      val next = byCluster.map { case (cId, rows) =>
        val n = rows.head._3
        val cq = new Array[Long](dim)
        rows.foreach { case (_, pos, _, qsum) =>
          cq(pos - 1) = math.floor(qsum.toDouble / n).toLong }
        val prev = cents(cId)
        val movement = (0 until dim).map(i => math.abs(cq(i) - prev(i))).sum
        out += ((it, cId, n, cq.sum, movement))
        cId -> cq.toIndexedSeq
      }
      cents = cents ++ next // absent (empty) clusters carry their centroid
    }
    out.toSeq.toDF("iter", "c_id", "n", "cq_sum", "movement")
      .orderBy(col("iter"), col("c_id"))
  }

  val kmeansIters = 3
  val x3kKmeansConverge: Q = (spark, dir) =>
    kmeansConvergeQ(spark, stagedQuantizedEmbeddings(spark, dir),
      kmeansK, kmeansIters)

  def x3kSqlFor(k: Int, iters: Int): String = {
    val header =
      s"""WITH p AS (SELECT unnest(generate_series(1, $dim)) AS pos),
         |q AS (SELECT vec_id, pos,
         |  CAST(floor(CAST(embedding[pos] AS DOUBLE) * ${Mixing.fpScale}) AS BIGINT) AS qv
         | FROM embeddings CROSS JOIN p),
         |c0 AS (SELECT vec_id AS c_id, pos, qv AS cq FROM q WHERE vec_id < $k)"""
        .stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |d$i AS (SELECT q.vec_id, c.c_id, sum(q.qv * c.cq) AS dot
         | FROM q JOIN c${i - 1} c USING (pos) GROUP BY 1, 2),
         |a$i AS (SELECT vec_id, c_id FROM (SELECT vec_id, c_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c_id) AS rn
         |  FROM d$i) t WHERE rn = 1),
         |u$i AS (SELECT a.c_id, q.pos, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q.qv) AS BIGINT) AS qsum
         | FROM a$i a JOIN q ON a.vec_id = q.vec_id GROUP BY 1, 2),
         |n$i AS (SELECT c_id, pos, n,
         |  CAST(floor(CAST(qsum AS DOUBLE) / n) AS BIGINT) AS cq FROM u$i),
         |c$i AS (SELECT pv.c_id, pv.pos, coalesce(x.cq, pv.cq) AS cq
         | FROM c${i - 1} pv LEFT JOIN n$i x ON pv.c_id = x.c_id AND pv.pos = x.pos),
         |o$i AS (SELECT $i AS iter, x.c_id, x.n,
         |  CAST(sum(x.cq) AS BIGINT) AS cq_sum,
         |  CAST(sum(abs(x.cq - pv.cq)) AS BIGINT) AS movement
         | FROM n$i x JOIN c${i - 1} pv ON x.c_id = pv.c_id AND x.pos = pv.pos
         | GROUP BY 1, 2, 3)""".stripMargin
    }.mkString
    val union = (1 to iters).map(i => s"SELECT * FROM o$i").mkString(" UNION ALL ")
    s"$header$its\nSELECT iter, c_id, n, cq_sum, movement FROM ($union) u\nORDER BY iter, c_id"
  }
  val x3kSql: String = x3kSqlFor(kmeansK, kmeansIters)

  val queries: Map[String, Q] = Map(
    "x3i_kmeans_refine" -> x3iKmeansRefine,
    "x3k_kmeans_converge" -> x3kKmeansConverge,
    "x3g_quantize" -> x3gQuantize,
    "x5d_media_bound" -> x5dMediaBound,
    "x5e_phash_pairs" -> x5ePhashPairs,
    "x5f_frame_manifest" -> x5fFrameManifest,
    "x3_cosine_topk" -> x3CosineTopK,
    "x3r_mmr_rerank" -> x3rMmrRerank,
    "x3d_topk_agg" -> x3dTopKAgg,
    "x3e_cosine_ivf" -> x3eCosineIvf,
    "x3f_ivf_recall" -> x3fIvfRecall,
    "x3j_pq_recall" -> x3jPqRecall,
    "x3p_pq_residual" -> x3pPqResidualRecall,
    "x3q_filtered_index" -> x3qFilteredIndex,
    "x3l_incr_index" -> x3lIncrIndex,
    "x3m_filtered_ann" -> x3mFilteredAnn,
    "x3n_filtered_ivf" -> x3nFilteredIvf,
    "x3o_maxsim_docs" -> x3oMaxsimDocs,
    "x5c_media_features" -> x5cMediaFeatures,
    "x3b_cosine_lsh" -> x3bCosineLsh,
    "x3c_embed_neardup" -> x3cEmbedNearDup,
    "x3h_semantic_dedup" -> x3hSemanticDedup,
    "x5_multimodal_join" -> x5MultimodalJoin,
    "x5b_multimodal_binary" -> x5bMultimodalBinary)

  val oracle: Map[String, String] = Map(
    "x3i_kmeans_refine" -> x3iSql,
    "x3k_kmeans_converge" -> x3kSql,
    "x3h_semantic_dedup" -> x3hSql,
    "x3g_quantize" -> x3gSql,
    "x3_cosine_topk" -> x3Sql,
    "x3r_mmr_rerank" -> x3rSql,
    "x3d_topk_agg" -> x3Sql, // same contract as x3 — value-identical by design
    "x3f_ivf_recall" -> x3fSql,
    "x3j_pq_recall" -> x3jSql,
    "x3p_pq_residual" -> x3pSql,
    "x3q_filtered_index" -> x3qSql,
    "x3l_incr_index" -> x3lSql,
    "x3m_filtered_ann" -> x3mSql,
    "x3n_filtered_ivf" -> x3nSql,
    "x3o_maxsim_docs" -> x3oSql,
    "x3b_cosine_lsh" -> x3bSql,
    "x3c_embed_neardup" -> x3cSql,
    "x5_multimodal_join" -> x5Sql,
    "x5b_multimodal_binary" -> x5bSql,
    "x5e_phash_pairs" -> x5eSql,
    "x5f_frame_manifest" -> x5fSql,
    "x5d_media_bound" -> x5dSql,
    // exact, not a bound: integer pixel-bucket sums off the REAL P6
    // decode replay value-for-value from the source text
    "x5c_media_features" -> x5cSql)
}
