package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.operators.{Audit, Bpe, Classify, Dedup, Dsir, Graph, Grouping, Intervals, Joins, Layout, Lm, Ops, Pack, Profile, Search, Sequences, Similarity, Sketches, Stats}
import graft.functions.{Jsons, Multimodal, Pii, Quality, Repetition, Text}
import graft.streaming.Streams

/** [[SparkEntry]] registry slice — deduplication & record linkage: exact/MinHash/SimHash/Jaccard, containment, winnowing, fuzzy joins, entity resolution.
  * Pure move from SparkEntry.scala (r10 registry split): every entry kept
  * verbatim next to its DuckDB oracle twin. First ids: q03_dedup_first, q04_dedup_last, q05_dedup_drop, q06_dedup_any, q24_simhash, q27_dedup_exact, … */
private[graft] object QueriesDedup extends OracleSqlHelpers {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- O3: keep-aware dedup -------------------------------------------
    // ordering must be a TOTAL order within each key for determinism —
    // (l_linenumber alone is not unique per order in this data).
    "q03_dedup_first" -> ((s, d) => {
      Ops.dropDuplicates(Tables.lineitem(s, d), Seq("l_orderkey"), "first",
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey")
    }),
    "q04_dedup_last" -> ((s, d) => {
      Ops.dropDuplicates(Tables.lineitem(s, d), Seq("l_orderkey"), "last",
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey")
    }),
    "q05_dedup_drop" -> ((s, d) => {
      Ops.dropDuplicates(Tables.orders(s, d), Seq("o_custkey"), "drop")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    }),
    "q06_dedup_any" -> ((s, d) => {
      Ops.dropDuplicates(Tables.lineitem(s, d).select("l_returnflag", "l_linestatus"))
        .transform(Ops.sortSmallT(col("l_returnflag"), col("l_linestatus")))
    }),
    "q24_simhash" -> ((s, d) => {
      Dedup.simhashTable(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("sh64").as("simhash64"))
        .orderBy("doc_id")
    }),
    // ----- ✚ dedup family (documents) --------------------------------------
    "q27_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy("keep_id")
    }),
    "q28_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),
    "q29_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),
    "q30_simhash_pairs" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // exact-substring dedup (Lee et al. 2022): pairs sharing >= 1 verbatim
    // 30-token run — the duplication mode a global-Jaccard threshold misses
    // (k = 30 ≈ a quarter of these ~120-word docs: a shared block that long
    // leaves the pair's Jaccard far below q28's 0.8 gate)
    "q69_substring_dup" -> ((s, d) => {
      Dedup.substringDupPairs(Tables.documents(s, d), "doc_id", "text", k = 30)
        .orderBy("id_a", "id_b")
    }),
    // SemDeDup-style one-call semantic dedup ✚ (VERDICT r6 §missing-2):
    // embedding pairs → connected components → keep each semantic family's
    // best row under (label, vec_id) — the keepBy window path, exercised
    // end-to-end against the oracle's recursive-closure replay
    "q116_semantic_dedup" -> ((s, d) => {
      Dedup.dedupedCorpusByEmbedding(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.3, keepBy = Seq(col("label"), col("vec_id")))
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    // fuzzy (edit-distance ≤2) self-join ✚ of the part-name vocabulary —
    // the record-linkage shape. FastSS deletion-neighborhood signatures
    // make candidates a keyed equi-join (lossless: within-distance pairs
    // ALWAYS share a signature), levenshtein verifies; the oracle is the
    // naive all-pairs filter the signature scheme avoids at scale
    "q132_fuzzy_join" -> ((s, d) => {
      val names = Tables.part(s, d).groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
      Joins.fuzzySelfPairs(names, "name", "name", maxDist = 2)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("dist").cast(LongType).as("dist"))
        .join(names.select(col("name").as("name_a"), col("n_parts").as("n_a")), Seq("name_a"))
        .join(names.select(col("name").as("name_b"), col("n_parts").as("n_b")), Seq("name_b"))
        .select(col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))
        .orderBy("name_a", "name_b")
    }),
    // standing FastSS fuzzy dictionary ✚ (r9): the part-name vocabulary
    // md5-split into a base dictionary, an ingest batch, and a probe set;
    // signatures built over base, EXTENDED with the batch (pure per-row
    // function — extend ≡ rebuild), persisted, reloaded, and probed.
    // Index-probe ≡ the naive probe×dict all-pairs levenshtein the oracle
    // runs — the record-linkage deployment shape: dictionary indexed once,
    // every ingest batch probed with a signature equi-join
    "q136_fuzzy_index" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      val base = names.filter(md5(col("name")) >= "4")
      val batch = names.filter(md5(col("name")) >= "2" && md5(col("name")) < "4")
      val probe = names.filter(md5(col("name")) < "2")
      val path = java.nio.file.Files.createTempDirectory("graft_fzix").toString
      val ix0 = Joins.fuzzyIndex(base, "name", "name", maxDist = 2)
      val ext = Joins.extendFuzzyIndex(ix0, batch)
      Joins.saveFuzzyIndex(ext, path)
      ext.release(); ix0.release()
      val ix = Joins.loadFuzzyIndex(s, path)
      val out = Joins.fuzzyProbe(ix, probe, "name", "name")
        .select(col("id_l").as("name_p"), col("id_r").as("name_d"),
          col("dist").cast(LongType).as("dist"))
        .localCheckpoint(true)
      ix.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path)) // out is checkpointed
      out.orderBy("name_p", "name_d")
    }),
    // winnowing ✚ (r9): MOSS positional fingerprints — any shared run of
    // ≥ k+w−1 chars leaves a shared fingerprint, so pairs LOCALIZE copied
    // spans (vs q27/q28's whole-doc resemblance); df-capped inverted index
    "q186_winnow_pairs" -> ((s, d) => {
      Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text",
          k = 8, w = 4, maxDf = 20)
        .filter(col("n_shared") >= 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // containment pairs ✚ (r9): the quote/excerpt detector — asymmetric
    // overlap over the df-capped shingle vocabulary; exact integer
    // threshold (inter·den ≥ num·min), inverted-index candidates only
    "q177_containment" -> ((s, d) => {
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, thrNum = 8, thrDen = 10, maxDf = 10)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // entity resolution ✚ (r9): the record-linkage stack end-to-end —
    // FastSS signature candidates → codegen'd JW decision edges (≥0.93) →
    // star-contraction components → lexicographic-min canonical name
    "q176_entity_resolution" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      val edges = Joins.fuzzySelfPairs(names, "name", "name", maxDist = 2)
        .withColumn("jw", call_function("graft_jw_micro", col("id_a"), col("id_b")))
        .filter(col("jw") >= 930000L)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(edges, names, "name")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("name"), col("component").as("canon_name"))
        .orderBy(col("name"))
    }),
    // decontamination ✚ (r9): training docs sharing any 5-gram with the
    // held-out benchmark slice — the eval-leak screen; ONE keyed equi-join
    // against the (broadcastable) benchmark shingle set
    "q169_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isBench = md5(col("doc_id").cast("string")) < "10"
      Dedup.decontaminate(docs.filter(!isBench), "doc_id", "text",
          docs.filter(isBench), "text", n = 5)
        .orderBy(col("train_id"))
    }),
    // decontamination: hash-shard 0 stands in for the eval benchmark; flag
    // training docs containing >= half an eval doc's 3-gram shingles
    "q57_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sharded = Ops.shardByHash(docs, "doc_id", 5)
      val evalSet = sharded.filter(col("shard") === 0).drop("shard")
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      Dedup.contaminationPairs(corpus, evalSet, "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("train_id", "eval_id")
    }),
    // ----- ✚ dedup groups: connected components over near-dup pairs -------
    "q43_dedup_groups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs, docs, "doc_id")
        .filter(col("id") =!= col("component")) // only docs folded into a group
        .orderBy("id")
    }),
    // leakage-safe split ✚ (r12, VERDICT r11 missing #1): train/holdout by
    // DEDUP COMPONENT, not by doc — hash the q43 component label, so
    // near-duplicates can never straddle the boundary (the GroupKFold
    // analog of O28's naive row split). Since r15 (VERDICT r14 next #1)
    // the labels come from the standing [[componentStore]] — the split is
    // a stateless projection over a label SCAN, no LSH/contraction
    // downstream (the real-pipeline shape; the oracle is unchanged
    // because the labels are deterministic).
    "q223_leak_safe_split" -> ((s, d) => {
      Ops.splitByGroupHash(componentStore(s, d)._1, "component",
          Seq("train" -> 0.8, "holdout" -> 1.0))
        .orderBy("id")
    }),
    // group k-fold ✚ (r13, VERDICT r12 missing #2): q223's leakage-safe
    // cut generalized to 5 cross-validation folds — fold labels band the
    // COMPONENT hash against 5 equal hashBandEdge cuts, so a near-dup
    // pair can never straddle any fold boundary; the oracle asserts the
    // full (id, component, fold) assignment. Labels read from the
    // standing [[componentStore]] (r15).
    "q231_group_kfold" -> ((s, d) => {
      Ops.foldByGroupHash(componentStore(s, d)._1, "component", k = 5)
        .orderBy("id")
    }),
    // weighted k-per-group sample ✚ (r12): A-ES weighted reservoir with
    // hash-derived randomness — longer docs proportionally likelier, 5
    // per shard, nano-quantized ln keys ranked under WindowGroupLimit
    "q229_weighted_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("grp", pmod(col("doc_id"), lit(8L)))
        .withColumn("w", length(col("text")).cast(LongType))
      Ops.weightedSampleKPerGroup(docs, Seq("grp"), "doc_id", "w", k = 5)
        .select(col("grp"), col("doc_id"), col("w"), col("key_nano"))
        .transform(Ops.sortSmallT(col("grp"), col("key_nano").desc, col("doc_id")))
    }),
    // split-leakage audit ✚ (r12): the q223 claim as a measured number —
    // count near-dup pairs straddling the train/holdout boundary under
    // the naive per-doc hash split vs the component split (structurally
    // zero: both ends share a component, hence a split). Both the labels
    // AND the pair table read from the standing [[componentStore]] (r15)
    // — two 1-row aggs over parquet scans, no LSH re-derivation.
    "q228_split_leakage_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (labels, pairs) = componentStore(s, d)
      val cuts = Seq("train" -> 0.8, "holdout" -> 1.0)
      val grouped = Ops.splitByGroupHash(labels, "component", cuts)
        .select(col("id"), col("split"))
      val naive = Ops.splitByGroupHash(
          docs.select(col("doc_id").as("id")), "id", cuts)
        .select(col("id"), col("split"))
      def audit(sp: DataFrame, method: String) = pairs
        .join(sp.select(col("id").as("id_a"), col("split").as("sa")), Seq("id_a"))
        .join(sp.select(col("id").as("id_b"), col("split").as("sb")), Seq("id_b"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("sa") =!= col("sb"), lit(1))).as("n_cross"))
        .select(lit(method).as("method"), col("n_pairs"), col("n_cross"))
      audit(grouped, "component").unionByName(audit(naive, "naive"))
        .transform(Ops.sortSmallT(col("method")))
    }),
    // span-based decontamination: longest verbatim run each TRAIN doc
    // shares with an EVAL doc (hash-shard 0 again plays the benchmark) —
    // the run-length criterion, next to q57's set-containment one
    "q74_decontamination_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sharded = Ops.shardByHash(docs, "doc_id", 5)
      val evalSet = sharded.filter(col("shard") === 0).drop("shard")
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      Dedup.substringSpansBetween(corpus, evalSet, "doc_id", "text",
          k = 10, minRunTokens = 20)
        .orderBy("train_id", "eval_id")
    }),
    // longest shared verbatim span per pair: k=10 positional windows, runs
    // reassembled per (pair, diagonal) — detects and MEASURES spans >= 30
    // tokens exactly (q69's fixed-k windows only count, they can't size)
    "q73_substring_spans" -> ((s, d) => {
      Dedup.substringDupSpans(Tables.documents(s, d), "doc_id", "text",
          k = 10, minRunTokens = 30)
        .orderBy("id_a", "id_b")
    }),
    // incremental dedup: hash-shard 0 plays today's DELTA, the rest the
    // standing corpus; near-dups found by banding delta AGAINST corpus —
    // the big side is never self-joined (the daily-ingest shape at 100 TB)
    "q72_delta_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sharded = Ops.shardByHash(docs, "doc_id", 5)
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      Dedup.minhashLshPairsBetween(delta, corpus, "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),
    // quality-aware dedup representative: each near-dup cluster keeps its
    // HIGHEST-quality member (tie → min doc_id) instead of the min id —
    // what a curation pipeline wants from its dedup stage (r4 verdict #7)
    "q70_dedup_best_rep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("quality", Text.qualityScore(col("text")))
      Dedup.dedupedCorpus(docs, "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8,
          keepBy = Seq(col("quality").desc, col("doc_id")))
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("quality") * 1000000).cast(LongType).as("quality_micro"))
        .orderBy("doc_id")
    }),
    // component-label standing store ✚ (r14, VERDICT r13 "what's wrong"
    // #2): q223's LSH + contraction runs ONCE and lands in a parquet
    // label store; the split reads the LOADED table — the query is the
    // store-readout ≡ recompute gate (same oracle as q223)
    "q246_component_store" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
      val labels = Dedup.connectedComponents(pairs, docs, "doc_id")
      val path = java.nio.file.Files.createTempDirectory("graft_cclbl").toString
      Dedup.saveComponentLabels(labels, path)
      Ops.splitByGroupHash(Dedup.loadComponentLabels(s, path), "component",
          Seq("train" -> 0.8, "holdout" -> 1.0))
        .orderBy("id")
    }),
  )

  /** Standing component store for the documents corpus (r15 ✚, VERDICT
    * r14 next #1): the q43 LSH pair graph + star-contraction labels run
    * ONCE per process per sf-dir and land in parquet; q223 (split), q228
    * (audit) and q231 (k-fold) all READ the store — the real-pipeline
    * shape, where dedup runs at ingest and every split consumer is a
    * stateless scan-side projection. q246 keeps its own inline rebuild:
    * it IS the save → load ≡ recompute gate that certifies this store.
    * The three consumers' oracles are UNCHANGED — labels and pairs are
    * deterministic, so reading them from parquet cannot move a hash.
    * Path creation and the build happen once (memoized), outside any
    * repeat of the readout (the VERDICT r14 wrong-#2 discipline: timed
    * reruns measure the read, not the write). */
  private val ccStorePaths =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def componentStore(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (lp, pp) = ccStorePaths.computeIfAbsent(d, _ => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
      val labels = Dedup.connectedComponents(pairs, docs, "doc_id")
      val base = java.nio.file.Files.createTempDirectory("graft_ccstore")
      val l = base.resolve("labels").toString
      val p = base.resolve("pairs").toString
      Dedup.saveComponentLabels(labels, l)
      pairs.write.mode("overwrite").parquet(p)
      (l, p)
    })
    (Dedup.loadComponentLabels(s, lp), s.read.parquet(pp))
  }

  /** Shared by q223 (recompute) and q246 (standing label store) — ONE
    * definition so the store-equivalence gate can never drift: the CC
    * closure + star roots, the md5-60-bit component hash banded at the
    * shared 0.8 edge. */
  private lazy val leakSafeSplitOracleSql = sqlCcClosureCtes + s""",
       roots AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a),
       lbl AS (SELECT d.doc_id AS id, coalesce(r.component, d.doc_id) AS component
               FROM documents d LEFT JOIN roots r ON r.id = d.doc_id)
       SELECT id, component,
              CASE WHEN list_sum([ (instr('0123456789abcdef', substr(md5(component::VARCHAR), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        < ${Ops.hashBandEdge(0.8)} THEN 'train'
                   ELSE 'holdout' END AS split
       FROM lbl ORDER BY id"""

  val oracleSql: Map[String, String] = Map(
    "q03_dedup_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
           FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""",
    "q04_dedup_last" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
           FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""",
    "q05_dedup_drop" ->
      """SELECT o_orderkey, o_custkey FROM (
           SELECT o_orderkey, o_custkey, count(*) OVER (PARTITION BY o_custkey) AS c
           FROM orders) t WHERE c = 1 ORDER BY o_orderkey""",
    "q06_dedup_any" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q24_simhash" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS t
           FROM documents),
         h AS (
           SELECT doc_id,
                  list_sum([ (instr('0123456789abcdef', substr(md5(t), k, 1)) - 1)
                             * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                  list_sum([ (instr('0123456789abcdef', substr(md5(t), k + 8, 1)) - 1)
                             * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
           FROM toks),
         votes AS (
           SELECT doc_id, j,
                  sum(2 * ((CASE WHEN j < 32 THEN w1 >> j ELSE w0 >> (j - 32) END) & 1) - 1) AS v
           FROM h, range(0, 64) r(j) GROUP BY doc_id, j)
         SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN
                       CASE WHEN j = 63 THEN -9223372036854775808 ELSE 1::BIGINT << j END
                     ELSE 0 END) AS BIGINT) AS simhash64
         FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "q27_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "q28_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_sort(list_distinct([
                        list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w) - 1)])])) AS sh
               FROM w),
         e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM s)
         SELECT id_a, id_b, jaccard FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  count(*)::DOUBLE / (a.nsh + b.nsh - count(*)) AS jaccard
           FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh) t
         WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",
    "q29_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_sort(list_distinct([
                        list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w) - 1)])])) AS sh
               FROM w),
         s2 AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
         ws AS (SELECT doc_id, unnest(sh)::VARCHAR AS x FROM s2),
         ww AS (SELECT doc_id,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k + 8, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
                FROM ws),
         sigl AS (SELECT doc_id, i, min((w0 + i * w1) % 2147483647) AS mh
                  FROM ww, range(0, 12) r(i) GROUP BY doc_id, i),
         bands AS (SELECT doc_id, i // 3 AS bi,
                          md5(string_agg(mh::VARCHAR, '|' ORDER BY i)) AS bk
                   FROM sigl GROUP BY doc_id, i // 3),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, jaccard FROM (
           SELECT c.ia AS id_a, c.ib AS id_b,
                  len(list_intersect(x.sh, y.sh))::DOUBLE
                    / (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))) AS jaccard
           FROM cand c JOIN s2 x ON x.doc_id = c.ia JOIN s2 y ON y.doc_id = c.ib) t
         WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",
    "q30_simhash_pairs" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS t
           FROM documents),
         hw AS (
           SELECT doc_id,
                  list_sum([ (instr('0123456789abcdef', substr(md5(t), k, 1)) - 1)
                             * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                  list_sum([ (instr('0123456789abcdef', substr(md5(t), k + 8, 1)) - 1)
                             * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
           FROM toks),
         votes AS (
           SELECT doc_id, j,
                  sum(2 * ((CASE WHEN j < 32 THEN w1 >> j ELSE w0 >> (j - 32) END) & 1) - 1) AS v
           FROM hw, range(0, 64) r(j) GROUP BY doc_id, j),
         h AS (SELECT doc_id,
                      CAST(sum(CASE WHEN v > 0 THEN
                             CASE WHEN j = 63 THEN -9223372036854775808 ELSE 1::BIGINT << j END
                           ELSE 0 END) AS BIGINT) AS sh64
               FROM votes GROUP BY doc_id),
         banded AS (SELECT doc_id, sh64, bi, (sh64 >> (bi * 16)::INT) & 65535 AS bandval
                    FROM h, range(0, 4) r(bi)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sh64 AS ha, b.doc_id AS id_b, b.sh64 AS hb
                  FROM banded a JOIN banded b
                    ON a.bi = b.bi AND a.bandval = b.bandval AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         FROM cand
         WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY id_a, id_b""",
    "q69_substring_dup" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+29], ' ')
                      for i in range(1, len(w) - 28)])) AS s
                FROM w WHERE len(w) >= 30),
         e AS (SELECT doc_id,
                      list_sum([ (instr('0123456789abcdef', substr(md5(s), kk, 1)) - 1)
                                 * pow(16, 15 - kk)::BIGINT for kk in range(1, 16)]) AS h
               FROM sh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY id_a, id_b""",
    // q33's pair chain closed transitively (q49's recursive-CTE shape) into
    // components; each component keeps its first row under (label, vec_id)
    // — the keepBy window replayed relationally
    "q116_semantic_dedup" ->
      s"""WITH RECURSIVE $sqlVecs, ${sqlLshBuckets(24)}, $sqlLshProbesAll,
         pairs AS (SELECT id_a, id_b FROM (
           SELECT cand.id_a, cand.id_b,
                  list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                    / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) AS cosine
           FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM pb a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id) cand
           JOIN v x ON x.vec_id = cand.id_a
           JOIN v y ON y.vec_id = cand.id_b) t
           WHERE cosine >= 0.3),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM edges
                         UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS vec_id, least(a, min(b)) AS component FROM reach GROUP BY a),
         lab AS (SELECT e.vec_id, e.label, coalesce(c.component, e.vec_id) AS component
                 FROM embeddings e LEFT JOIN comp c USING (vec_id)),
         r AS (SELECT vec_id, label,
                      row_number() OVER (PARTITION BY component ORDER BY label, vec_id) AS rk
               FROM lab)
         SELECT vec_id, label FROM r WHERE rk = 1 ORDER BY vec_id""",
    // the naive all-pairs form the signature join avoids; levenshtein is
    // the classic DP distance in both engines
    "q132_fuzzy_join" ->
      """WITH v AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
                    FROM part GROUP BY p_name)
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
                a.n_parts AS n_a, b.n_parts AS n_b
         FROM v a JOIN v b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""",
    // the naive probe×dict all-pairs scan the standing signature index
    // avoids; the md5-based three-way split is engine-identical (both
    // engines emit lowercase hex)
    "q136_fuzzy_index" ->
      """WITH v AS (SELECT DISTINCT p_name AS name FROM part),
         dict AS (SELECT name FROM v WHERE md5(name) >= '2'),
         probe AS (SELECT name FROM v WHERE md5(name) < '2')
         SELECT p.name AS name_p, d.name AS name_d,
                CAST(levenshtein(p.name, d.name) AS BIGINT) AS dist
         FROM probe p JOIN dict d ON levenshtein(p.name, d.name) <= 2
         ORDER BY name_p, name_d""",
    // windows replayed by bounded fan-out (gram × offset 0..w−1), argmin
    // tie-to-rightmost as max(p) among the window's min-hash rows
    "q186_winnow_pairs" ->
      """WITH d AS (SELECT doc_id AS id,
                trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
              FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         d2 AS (SELECT id, t, len(t) AS n FROM d WHERE len(t) >= 11),
         gp AS (SELECT id, t, n - 7 AS np,
                unnest([pp for pp in range(1, n - 6)]) AS p FROM d2),
         g AS (SELECT id, p, np,
                list_sum([ (instr('0123456789abcdef',
                                  substr(md5(substr(t, p::INT, 8)), kk, 1)) - 1)
                           * pow(16, 15 - kk)::BIGINT for kk in range(1, 16)]) AS h
               FROM gp),
         j AS (SELECT id, p + o AS e, p, h FROM g, range(0, 4) o(o)
               WHERE p + o >= 4 AND p + o <= np),
         wm AS (SELECT id, e, min(h) AS mh FROM j GROUP BY 1, 2),
         sel AS (SELECT j.id, max(j.p) AS p, wm.mh AS h
                 FROM j JOIN wm ON j.id = wm.id AND j.e = wm.e AND j.h = wm.mh
                 GROUP BY j.id, j.e, wm.mh),
         fp AS (SELECT DISTINCT id, h FROM sel),
         kept AS (SELECT fp.* FROM fp JOIN (SELECT h FROM fp GROUP BY h
                    HAVING count(*) <= 20) ok ON fp.h = ok.h),
         sizes AS (SELECT id, count(*) AS nf FROM kept GROUP BY 1),
         pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
                   FROM kept a JOIN kept b ON a.h = b.h AND a.id < b.id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, n_shared, sa.nf AS n_a, sb.nf AS n_b,
                CAST(round(n_shared::DOUBLE
                  / (sa.nf + sb.nf - n_shared)::DOUBLE * 1e6) AS BIGINT) AS jac_micro
         FROM pairs JOIN sizes sa ON pairs.id_a = sa.id
                    JOIN sizes sb ON pairs.id_b = sb.id
         WHERE n_shared >= 3 ORDER BY id_a, id_b""",
    // same shingles, df cap, exact integer threshold, micro divisions
    "q177_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents),
         s AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS sh
               FROM w),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         dfc AS (SELECT g FROM e GROUP BY g HAVING count(*) <= 10),
         ke AS (SELECT e.doc_id, e.g FROM e JOIN dfc USING (g)),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM ke GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS inter
               FROM ke a JOIN ke b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, inter, x.nsh AS n_a, y.nsh AS n_b,
                CAST(round(inter::DOUBLE / x.nsh::DOUBLE * 1e6) AS BIGINT) AS cont_a_micro,
                CAST(round(inter::DOUBLE / y.nsh::DOUBLE * 1e6) AS BIGINT) AS cont_b_micro
         FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
         WHERE inter * 10 >= 8 * least(x.nsh, y.nsh)
         ORDER BY id_a, id_b""",
    // naive all-pairs candidates + DuckDB's own JW at the same threshold,
    // closure via recursive CTE, same min-name canonicalization
    "q176_entity_resolution" ->
      """WITH RECURSIVE
         names AS (SELECT p_name AS name FROM part GROUP BY 1),
         p AS (SELECT a.name AS na, b.name AS nb
               FROM names a JOIN names b ON a.name < b.name
               WHERE levenshtein(a.name, b.name) <= 2
                 AND CAST(round(jaro_winkler_similarity(a.name, b.name) * 1e6) AS BIGINT) >= 930000),
         edges AS (SELECT na AS a, nb AS b FROM p UNION SELECT nb, na FROM p),
         reach(a, b) AS (SELECT a, b FROM edges
                         UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         SELECT a AS name, min(b) AS canon_name FROM reach
         GROUP BY a HAVING min(b) < a ORDER BY name""",
    // same tokenization/shingling as the Spark side, same md5 bench split
    "q169_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents),
         lbl AS (SELECT doc_id, w, md5(doc_id::VARCHAR) < '10' AS is_bench FROM t),
         sh AS (SELECT doc_id, is_bench,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                               || w[i+3] || ' ' || w[i+4]
                               for i in range(1, len(w) - 3)]) AS sh
               FROM lbl),
         te AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE NOT is_bench),
         be AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE is_bench)
         SELECT te.doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM te JOIN be USING (g) GROUP BY 1 ORDER BY 1""",
    "q57_decontamination" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_sort(list_distinct([
                        list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w) - 1)])])) AS sh
               FROM w),
         s2 AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
         hs AS (SELECT doc_id,
                       (list_sum([ (instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])::BIGINT % 5)
                         AS shard
                FROM documents),
         tr AS (SELECT s2.doc_id AS train_id, unnest(sh) AS x
                FROM s2 JOIN hs ON s2.doc_id = hs.doc_id WHERE hs.shard != 0),
         ev AS (SELECT s2.doc_id AS eval_id, nsh AS eval_nsh, unnest(sh) AS x
                FROM s2 JOIN hs ON s2.doc_id = hs.doc_id WHERE hs.shard = 0)
         SELECT train_id, eval_id, count(*) AS n_common,
                count(*)::DOUBLE / eval_nsh::DOUBLE AS containment
         FROM tr JOIN ev ON tr.x = ev.x
         GROUP BY train_id, eval_id, eval_nsh
         HAVING count(*)::DOUBLE / eval_nsh::DOUBLE >= 0.5
         ORDER BY train_id, eval_id""",
    "q43_dedup_groups" -> sqlCcClosure,
    // same closure CTEs as q43; roots/singletons keep themselves, then the
    // split is the md5-60-bit hash of the COMPONENT label against the
    // shared band edge — the oracle asserts the whole (id, component,
    // split) assignment, so a component straddling splits is impossible
    // without a hash mismatch
    "q223_leak_safe_split" -> leakSafeSplitOracleSql,
    // identical to the q223 oracle - the stored label table is a pure
    // function of the pair graph, so the store-readout split must
    // reproduce the recomputed assignment bit for bit (q246 IS that gate)
    "q246_component_store" -> leakSafeSplitOracleSql,
    // same closure + roots CTEs as q223; the fold is the same md5-60-bit
    // component hash banded against the 5 shared hashBandEdge cuts — a
    // component straddling folds is impossible without a hash mismatch
    "q231_group_kfold" -> (sqlCcClosureCtes + s""",
       roots AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a),
       lbl AS (SELECT d.doc_id AS id, coalesce(r.component, d.doc_id) AS component
               FROM documents d LEFT JOIN roots r ON r.id = d.doc_id),
       hs AS (SELECT id, component,
                list_sum([ (instr('0123456789abcdef', substr(md5(component::VARCHAR), k, 1)) - 1)
                           * pow(16, 15 - k)::BIGINT for k in range(1, 16)]) AS h
              FROM lbl)
       SELECT id, component,
              CAST(CASE WHEN h < ${Ops.hashBandEdge(1.0 / 5)} THEN 0
                        WHEN h < ${Ops.hashBandEdge(2.0 / 5)} THEN 1
                        WHEN h < ${Ops.hashBandEdge(3.0 / 5)} THEN 2
                        WHEN h < ${Ops.hashBandEdge(4.0 / 5)} THEN 3
                        ELSE 4 END AS BIGINT) AS fold
       FROM hs ORDER BY id"""),
    // same md5-60-bit u, same one-division nano-quantized ln key, same
    // (key desc, id) rank — A-ES replayed term for term
    "q229_weighted_sample" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS grp,
                CAST(length(text) AS BIGINT) AS w,
                list_sum([ (instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)
                           * pow(16, 15 - k)::BIGINT for k in range(1, 16)]) AS h
              FROM documents WHERE length(text) > 0 AND doc_id IS NOT NULL),
         sc AS (SELECT grp, doc_id, w,
                 CAST(round(ln((h + 1)::DOUBLE / pow(2, 60)::DOUBLE)
                   / w::DOUBLE * 1e9) AS BIGINT) AS key_nano
                FROM d)
         SELECT grp, doc_id, w, key_nano FROM sc
         QUALIFY row_number() OVER (PARTITION BY grp
           ORDER BY key_nano DESC, doc_id) <= 5
         ORDER BY grp, key_nano DESC, doc_id""",
    // same pairs + splits, aggregated to the boundary-crossing counts —
    // component split is structurally 0, naive is whatever the doc-id
    // hashes happen to cut
    "q228_split_leakage_audit" -> (sqlCcClosureCtes + s""",
       roots AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a),
       lbl AS (SELECT d.doc_id AS id, coalesce(r.component, d.doc_id) AS component
               FROM documents d LEFT JOIN roots r ON r.id = d.doc_id),
       gs AS (SELECT id,
                CASE WHEN list_sum([ (instr('0123456789abcdef', substr(md5(component::VARCHAR), k, 1)) - 1)
                                     * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                          < ${Ops.hashBandEdge(0.8)} THEN 'train'
                     ELSE 'holdout' END AS sp
              FROM lbl),
       ns AS (SELECT doc_id AS id,
                CASE WHEN list_sum([ (instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)
                                     * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                          < ${Ops.hashBandEdge(0.8)} THEN 'train'
                     ELSE 'holdout' END AS sp
              FROM documents),
       gc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(count(*) FILTER (WHERE a.sp <> b.sp) AS BIGINT) AS n_cross
              FROM pairs p JOIN gs a ON p.id_a = a.id JOIN gs b ON p.id_b = b.id),
       nc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(count(*) FILTER (WHERE a.sp <> b.sp) AS BIGINT) AS n_cross
              FROM pairs p JOIN ns a ON p.id_a = a.id JOIN ns b ON p.id_b = b.id)
       SELECT 'component' AS method, n_pairs, n_cross FROM gc
       UNION ALL SELECT 'naive', n_pairs, n_cross FROM nc
       ORDER BY method"""),
    "q74_decontamination_spans" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         e AS (SELECT doc_id, u.p AS p,
                      list_sum([ (instr('0123456789abcdef', substr(md5(u.s), kk, 1)) - 1)
                                 * pow(16, 15 - kk)::BIGINT for kk in range(1, 16)]) AS h
               FROM (SELECT doc_id, unnest([{'p': i, 's': array_to_string(w[i:i+9], ' ')}
                                            for i in range(1, len(w) - 8)]) AS u
                     FROM w) t),
         hs AS (SELECT doc_id,
                       (list_sum([ (instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), kk, 1)) - 1)
                                   * pow(16, 15 - kk)::BIGINT for kk in range(1, 16)])::BIGINT % 5)
                         AS shard
                FROM documents),
         et AS (SELECT e.* FROM e JOIN hs ON e.doc_id = hs.doc_id WHERE hs.shard != 0),
         ee AS (SELECT e.* FROM e JOIN hs ON e.doc_id = hs.doc_id WHERE hs.shard = 0),
         m AS (SELECT a.doc_id AS train_id, b.doc_id AS eval_id, a.p AS pa, b.p AS pb
               FROM et a JOIN ee b ON a.h = b.h AND a.doc_id <> b.doc_id),
         r AS (SELECT train_id, eval_id, pa - pb AS d, pa,
                      pa - row_number() OVER (PARTITION BY train_id, eval_id, pa - pb
                                              ORDER BY pa) AS grp
               FROM m),
         runs AS (SELECT train_id, eval_id, count(*) AS rw
                  FROM r GROUP BY train_id, eval_id, d, grp)
         SELECT train_id, eval_id, (max(rw) + 9)::BIGINT AS longest_run_tokens
         FROM runs GROUP BY train_id, eval_id
         HAVING max(rw) + 9 >= 20 ORDER BY train_id, eval_id""",
    "q73_substring_spans" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         e AS (SELECT doc_id, u.p AS p,
                      list_sum([ (instr('0123456789abcdef', substr(md5(u.s), kk, 1)) - 1)
                                 * pow(16, 15 - kk)::BIGINT for kk in range(1, 16)]) AS h
               FROM (SELECT doc_id, unnest([{'p': i, 's': array_to_string(w[i:i+9], ' ')}
                                            for i in range(1, len(w) - 8)]) AS u
                     FROM w) t),
         m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb
               FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id),
         r AS (SELECT id_a, id_b, pa - pb AS d, pa,
                      pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                              ORDER BY pa) AS grp
               FROM m),
         runs AS (SELECT id_a, id_b, count(*) AS rw FROM r GROUP BY id_a, id_b, d, grp)
         SELECT id_a, id_b, (max(rw) + 9)::BIGINT AS longest_run_tokens
         FROM runs GROUP BY id_a, id_b
         HAVING max(rw) + 9 >= 30 ORDER BY id_a, id_b""",
    "q72_delta_dedup" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_sort(list_distinct([
                        list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w) - 1)])])) AS sh
               FROM w),
         s2 AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
         hs AS (SELECT doc_id,
                       (list_sum([ (instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])::BIGINT % 5)
                         AS shard
                FROM documents),
         ws AS (SELECT doc_id, unnest(sh)::VARCHAR AS x FROM s2),
         ww AS (SELECT doc_id,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k + 8, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
                FROM ws),
         sigl AS (SELECT doc_id, i, min((w0 + i * w1) % 2147483647) AS mh
                  FROM ww, range(0, 12) r(i) GROUP BY doc_id, i),
         bands AS (SELECT doc_id, i // 3 AS bi,
                          md5(string_agg(mh::VARCHAR, '|' ORDER BY i)) AS bk
                   FROM sigl GROUP BY doc_id, i // 3),
         bd AS (SELECT b.doc_id, b.bi, b.bk FROM bands b JOIN hs ON b.doc_id = hs.doc_id
                WHERE hs.shard = 0),
         bc AS (SELECT b.doc_id, b.bi, b.bk FROM bands b JOIN hs ON b.doc_id = hs.doc_id
                WHERE hs.shard != 0),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM bd a JOIN bc b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id <> b.doc_id)
         SELECT id_a, id_b, jaccard FROM (
           SELECT c.ia AS id_a, c.ib AS id_b,
                  len(list_intersect(x.sh, y.sh))::DOUBLE
                    / (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))) AS jaccard
           FROM cand c JOIN s2 x ON x.doc_id = c.ia JOIN s2 y ON y.doc_id = c.ib) t
         WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",
    "q70_dedup_best_rep" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_sort(list_distinct([
                        list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                   * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                        for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w) - 1)])])) AS sh
               FROM w),
         s2 AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
         ws AS (SELECT doc_id, unnest(sh)::VARCHAR AS x FROM s2),
         ww AS (SELECT doc_id,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                       list_sum([ (instr('0123456789abcdef', substr(md5(x), k + 8, 1)) - 1)
                                  * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
                FROM ws),
         sigl AS (SELECT doc_id, i, min((w0 + i * w1) % 2147483647) AS mh
                  FROM ww, range(0, 12) r(i) GROUP BY doc_id, i),
         bands AS (SELECT doc_id, i // 3 AS bi,
                          md5(string_agg(mh::VARCHAR, '|' ORDER BY i)) AS bk
                   FROM sigl GROUP BY doc_id, i // 3),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
         pairs AS (SELECT id_a, id_b FROM (
           SELECT c.ia AS id_a, c.ib AS id_b,
                  len(list_intersect(x.sh, y.sh))::DOUBLE
                    / (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))) AS jaccard
           FROM cand c JOIN s2 x ON x.doc_id = c.ia JOIN s2 y ON y.doc_id = c.ib) t
           WHERE jaccard >= 0.8),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM edges
                         UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
         lt AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS lt
                FROM documents),
         qual AS (SELECT doc_id,
                    CASE WHEN text IS NULL THEN NULL
                         WHEN length(trim(text)) > 0 THEN
                           0.3 * least(len(lt)::DOUBLE / 100.0, 1.0)
                           + 0.4 * least(5.0 * (len(list_filter(lt,
                               x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                               / len(lt)::DOUBLE), 1.0)
                           + 0.3 * (length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
                                    / length(text)::DOUBLE)
                         ELSE 0.0 END AS quality
                  FROM lt),
         lab AS (SELECT d.doc_id, d.lang, d.source,
                        coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         ranked AS (SELECT l.doc_id, l.lang, l.source, q.quality,
                           row_number() OVER (PARTITION BY l.component
                             ORDER BY q.quality DESC, l.doc_id) AS rk
                    FROM lab l JOIN qual q ON q.doc_id = l.doc_id)
         SELECT doc_id, lang, source,
                CAST(round(quality * 1000000) AS BIGINT) AS quality_micro
         FROM ranked WHERE rk = 1 ORDER BY doc_id""",
  )
}
