package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Join surface. Reference: inner equi-join only (`pyarrow_ops/join.py:15-47`,
  * "currently performs inner join" README.md:46), with left-wins resolution of
  * duplicate non-key columns (`join.py:7-13`, verified SURVEY §2.2.7). The
  * reference's TODO join types (left/right/outer/full/cross, README.md:95)
  * are provided here via Spark's native join execs.
  *
  * Physical strategy is Catalyst's `JoinSelection`: broadcast-hash when a side
  * is under `autoBroadcastJoinThreshold` (all our dimension tables), else
  * shuffle + sort-merge; AQE can demote SMJ→BHJ at runtime and split skewed
  * partitions. The reference's Cython cartesian-per-key kernel (`cjoin.pyx`)
  * is subsumed — Spark emits the same lc×rc multiplicity per duplicate key.
  */
object Joins {

  private val howMap = Map(
    "inner" -> "inner", "left" -> "left", "right" -> "right",
    "outer" -> "full", "full" -> "full", "cross" -> "cross",
    "semi" -> "left_semi", "anti" -> "left_anti")

  /** `join(left, right, on)` with reference column semantics: output is all
    * left columns then right's novel columns (left wins on duplicate non-key
    * names — right's duplicates are dropped BEFORE the join so they also
    * don't inflate shuffle width). */
  def join(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      how: String = "inner",
      broadcastRight: Boolean = false): DataFrame = {
    val sparkHow = howMap.getOrElse(how,
      throw new IllegalArgumentException(s"Unknown join type: $how"))
    val dup = right.columns.toSet.intersect(left.columns.toSet) -- on.toSet
    val r = dup.foldLeft(right)((d, c) => d.drop(c))
    val rhs = if (broadcastRight) broadcast(r) else r
    if (sparkHow == "cross") left.crossJoin(rhs)
    else left.join(rhs, on, sparkHow)
  }

  /** As-of join (time-series point-in-time join — an operator the reference
    * and Spark both lack; pandas `merge_asof` semantics): for each left row,
    * the single right row with the greatest `tsCol` ≤ left's (`backward`,
    * default), smallest ≥ (`forward`), or whichever of those two is closer
    * in time (`nearest`, equal distances resolve backward) within the same
    * `on` key. Left rows with no eligible right row keep nulls (left-join
    * semantics).
    *
    * Execution is the scalable union trick, NOT a range join: tag both
    * sides, union, and run ONE window per key ordered by (ts, side) taking
    * `last(right_payload, ignoreNulls)` — a single hash shuffle on the key
    * plus an in-partition sort, never an inequality join (which Spark would
    * plan as a broadcast-nested-loop) and never a per-row range probe. At
    * 100 TB this shuffles each side once — the same cost as an equi-join.
    * Skew caveat: a window partition cannot be split by AQE, so one
    * pathologically hot key serializes on one task (pre-bucket such keys by
    * coarse time range if that ever bites).
    *
    * Ties: a right row at EXACTLY left's timestamp matches (side ordering
    * puts right first). Right rows with null ts are dropped; left rows with
    * null ts match nothing. If several right rows share (key, ts) the
    * surviving one is unspecified — pre-aggregate the right side to unique
    * (key, ts) when determinism matters. `tolerance` (µs for timestamp
    * columns, native units for numeric ts) nulls out matches farther than
    * the given distance. Output: all left columns, then the matched right
    * ts as `tsCol+rightSuffix`, then right's payload columns (suffixed only
    * on a name clash with the left). */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      on: Seq[String], tsCol: String,
      direction: String = "backward",
      tolerance: Option[Long] = None,
      rightSuffix: String = "_r"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val reserved = Seq("__ts", "__side", "__l", "__r", "__m", "__mb", "__mf")
    val clash = (left.columns ++ right.columns).distinct.filter(reserved.contains)
    require(clash.isEmpty,
      s"asofJoin reserves internal column names ${reserved.mkString("/")}; " +
        s"rename input column(s): ${clash.mkString(", ")}")
    val rightVals = right.columns.filterNot(c => on.contains(c) || c == tsCol).toSeq
    val lStructT = StructType(left.schema.fields)
    val rStructT = StructType(right.schema(tsCol) +: rightVals.map(right.schema(_)))
    val lSide = left.select(
      on.map(col) ++ Seq(
        col(tsCol).as("__ts"), lit(1).as("__side"),
        struct(left.columns.map(col).toSeq: _*).as("__l"),
        lit(null).cast(rStructT).as("__r")): _*)
    val rSide = right.filter(col(tsCol).isNotNull).select(
      on.map(col) ++ Seq(
        col(tsCol).as("__ts"), lit(0).as("__side"),
        lit(null).cast(lStructT).as("__l"),
        struct((col(tsCol) +: rightVals.map(col)).toSeq: _*).as("__r")): _*)
    // null-ts left rows must match NOTHING: they sort before every right
    // row in both directions (asc defaults nulls-first; desc needs the
    // explicit nulls-first — plain desc puts nulls LAST, where the window
    // would hand a null-ts row the whole key group's minimum right ts)
    def dirWindow(d: String) = {
      val ord =
        if (d == "backward") Seq(col("__ts").asc_nulls_first, col("__side").asc)
        else Seq(col("__ts").desc_nulls_first, col("__side").asc)
      Window.partitionBy(on.map(col): _*).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    }
    def units(c: Column) = right.schema(tsCol).dataType match {
      case TimestampType => unix_micros(c)
      case _             => c.cast("long")
    }
    val unioned = lSide.unionByName(rSide)
    // `nearest`: the closer of the backward and forward matches, ties to
    // backward. Both windows share the key hash shuffle (same partitioning);
    // the second ordering costs one extra in-partition sort, no extra
    // exchange.
    val matched0 =
      if (direction != "nearest")
        unioned.withColumn("__m", last(col("__r"), ignoreNulls = true).over(dirWindow(direction)))
          .filter(col("__side") === 1)
      else {
        val both = unioned
          .withColumn("__mb", last(col("__r"), ignoreNulls = true).over(dirWindow("backward")))
          .withColumn("__mf", last(col("__r"), ignoreNulls = true).over(dirWindow("forward")))
          .filter(col("__side") === 1)
        val dBack = abs(units(col("__ts")) - units(col("__mb").getField(tsCol)))
        val dFwd = abs(units(col("__mf").getField(tsCol)) - units(col("__ts")))
        both.withColumn("__m",
            when(col("__mb").isNull, col("__mf"))
              .when(col("__mf").isNull, col("__mb"))
              .when(dFwd < dBack, col("__mf"))
              .otherwise(col("__mb")))
          .drop("__mb", "__mf")
      }
    val matched = tolerance match {
      case None => matched0
      case Some(tol) =>
        matched0.withColumn("__m",
          when(abs(units(col("__ts")) - units(col("__m").getField(tsCol))) <= tol, col("__m")))
    }
    val leftCols = left.columns.toSeq.map(c => col("__l").getField(c).as(c))
    val rightCols = (tsCol +: rightVals).map { f =>
      val name = if (f == tsCol || left.columns.contains(f)) f + rightSuffix else f
      col("__m").getField(f).as(name)
    }
    matched.select(leftCols ++ rightCols: _*)
  }

  /** Bucketized range (interval containment) join: left rows where
    * `valCol` ∈ [right.loCol, right.hiCol]. Spark plans a raw inequality
    * join as broadcast-nested-loop (fine for a tiny right side) or a
    * cartesian (fatal at scale); this instead maps each left value to its
    * `bucketWidth` bucket and explodes each right interval into the buckets
    * it covers, turning the inequality into a keyed EQUI-join plus an exact
    * containment filter. Each (row, interval) match meets in exactly one
    * bucket — the value's — so no dedup pass is needed. Cost scales with
    * |left| + Σ(interval span / bucketWidth): pick bucketWidth near the
    * typical interval length (a span ≫ bucketWidth fans that interval out
    * proportionally). Null values/bounds and empty intervals drop out.
    * Output: left columns then right's novel columns (left-wins like
    * [[join]]); `loCol`/`hiCol` must not clash with left column names. */
  def rangeJoin(
      left: DataFrame, valCol: String,
      right: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!left.columns.contains(loCol) && !left.columns.contains(hiCol),
      s"$loCol/$hiCol must not clash with left column names")
    require(!left.columns.contains("__bucket") && !right.columns.contains("__bucket"),
      "rangeJoin reserves the internal column name __bucket; rename the input column")
    val dup = right.columns.toSet.intersect(left.columns.toSet)
    val r0 = dup.foldLeft(right)((d, c) => d.drop(c))
    val l = left.filter(col(valCol).isNotNull)
      .withColumn("__bucket", floor(col(valCol) / bucketWidth).cast("long"))
    val r = r0.filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(hiCol) >= col(loCol))
      .withColumn("__bucket", explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    l.join(r, Seq("__bucket"))
      .filter(col(valCol) >= col(loCol) && col(valCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Bucketized interval-OVERLAP join: pairs where [left.loL, hiL] and
    * [right.loR, hiR] intersect (closed intervals: touching endpoints
    * match), optionally within equi-key groups (`on`). The raw predicate
    * `loL <= hiR AND loR <= hiL` plans as a nested-loop/cartesian; instead
    * BOTH sides explode into the `bucketWidth` buckets their interval
    * covers and meet in a keyed equi-join. An overlapping pair shares every
    * bucket in the intersection — to emit it exactly once (no dedup pass),
    * a match only counts in the bucket of `greatest(loL, loR)`, the
    * intersection's start, which both sides provably cover. Cost scales
    * with Σ(span / bucketWidth) per side: pick bucketWidth near the typical
    * interval length. Null/inverted intervals drop out; output is left
    * columns then right's novel columns (left-wins like [[join]]). */
  def intervalJoin(
      left: DataFrame, loL: String, hiL: String,
      right: DataFrame, loR: String, hiR: String,
      bucketWidth: Double, on: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!left.columns.contains(loR) && !left.columns.contains(hiR),
      s"$loR/$hiR must not clash with left column names")
    require(!left.columns.contains("__bucket") && !right.columns.contains("__bucket"),
      "intervalJoin reserves the internal column name __bucket; rename the input column")
    val dup = right.columns.toSet.intersect(left.columns.toSet) -- on.toSet
    val r0 = dup.foldLeft(right)((d, c) => d.drop(c))
    def buckets(d: DataFrame, lo: String, hi: String) =
      d.filter(col(lo).isNotNull && col(hi).isNotNull && col(hi) >= col(lo))
        .withColumn("__bucket", explode(sequence(
          floor(col(lo) / bucketWidth).cast("long"),
          floor(col(hi) / bucketWidth).cast("long"))))
    buckets(left, loL, hiL).join(buckets(r0, loR, hiR), on :+ "__bucket")
      .filter(col(loL) <= col(hiR) && col(loR) <= col(hiL) &&
        floor(greatest(col(loL), col(loR)) / bucketWidth).cast("long") === col("__bucket"))
      .drop("__bucket")
  }

  /** Skew-mitigated inner equi-join: salt the skewed (left) side's key into
    * `saltBuckets` shards and replicate the right side once per shard, so a
    * hot key's rows spread over `saltBuckets` reducers instead of one.
    * AQE's skew-join split handles moderate skew automatically; explicit
    * salting is the lever for pathological keys (the classic null/default-id
    * hot key at 100 TB). Results identical to a plain inner join. */
  def saltedJoin(
      left: DataFrame, right: DataFrame, on: Seq[String],
      saltBuckets: Int = 8): DataFrame = {
    require(!(left.columns ++ right.columns).contains("__graft_salt"),
      "saltedJoin reserves the internal column name __graft_salt; rename the input column")
    val salted = left.withColumn("__graft_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)).cast("int"))
    val replicated = right
      .withColumn("__graft_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    val dup = right.columns.toSet.intersect(left.columns.toSet) -- on.toSet
    val r = dup.foldLeft(replicated)((d, c) => d.drop(c))
    salted.join(r, on :+ "__graft_salt", "inner").drop("__graft_salt")
  }

  /** Build a serialized bloom filter of `keys`' BIGINT `keyCol` values
    * (two jobs over the small side: an exact count to size the filter,
    * then the one-pass [[graft.expressions.BloomFilterAgg]] build —
    * map-side-combined, shuffles filters, never keys). Returns the filter
    * bytes: ~1.2 MB per million keys at fpp 1%, a plan-embeddable
    * constant. */
  def bloomOfKeys(keys: DataFrame, keyCol: String, fpp: Double = 0.01): Array[Byte] = {
    graft.expressions.GraftFunctions.register(keys.sparkSession)
    val n = math.max(keys.count(), 1L)
    keys.agg(call_function("graft_bloom_agg",
        col(keyCol).cast("long"), lit(n), lit(fpp)))
      .head().getAs[Array[Byte]](0)
  }

  /** Prune `df` to rows whose `keyCol` MIGHT appear in `keys`' `keyCol` —
    * a bloom semi-filter: no false negatives (every actually-matching row
    * survives — the q129 exactness contract), ~`fpp` false positives
    * (harmless: the later join drops them). The predicate is a codegen'd
    * two-probe test against a plan-constant filter, so it sits directly on
    * the scan, BELOW any exchange — at 100 TB this is the difference
    * between shuffling the full big side and shuffling only near-matches,
    * at the cost of one broadcast-sized literal (size the small side: the
    * bloom is ~1.2 MB per million keys; past ~100 M keys prefer a plain
    * shuffle semi-join). Works on any engine's row set the exchange would
    * otherwise carry: filters, then lets Catalyst plan the rest. */
  def bloomSemiFilter(df: DataFrame, keyCol: String,
      keys: DataFrame, keysCol: String, fpp: Double = 0.01): DataFrame = {
    val bloom = bloomOfKeys(keys, keysCol, fpp)
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.filter(call_function("graft_bloom_might_contain",
      lit(bloom), col(keyCol).cast("long")))
  }

  /** Keep rows whose `keyCol` is definitely NOT among `seen` bytes (a
    * filter built by [[bloomOfKeys]]) — the novelty pre-gate of a dedup
    * ingest path. ASYMMETRIC semantics, the mirror of [[bloomSemiFilter]]:
    * every already-seen row is dropped FOR CERTAIN (no false negatives),
    * but ~`fpp` of genuinely-novel rows are falsely dropped too. Use it
    * where losing fpp of novel rows is an acceptable price for testing
    * novelty without a join (crawl frontier, seen-URL sets); follow with
    * an exact anti-join instead when completeness is contractual. `seen`
    * is read-only: keys that pass are NOT added to it — fold them into the
    * next bloom with [[bloomOfKeys]] between runs. */
  def bloomAntiFilter(df: DataFrame, keyCol: String, seen: Array[Byte]): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.filter(!call_function("graft_bloom_might_contain",
      lit(seen), col(keyCol).cast("long")))
  }

  /** Inner equi-join with the big (left) side bloom-pruned before the
    * exchange. Result is EXACTLY `join(big, small, on)` — the bloom's
    * no-false-negative guarantee means pruning only drops rows the join
    * would drop anyway, which is what the oracle checks. Single-key
    * BIGINT joins (the 100-TB fact⋈filtered-dim shape); compose
    * [[bloomSemiFilter]] manually for multi-key or hashed-string keys. */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, on: String,
      fpp: Double = 0.01, how: String = "inner"): DataFrame =
    join(bloomSemiFilter(big, on, small, on, fpp), small, Seq(on), how)

  // ----- fuzzy (edit-distance) joins -------------------------------------

  /** One round of single-character deletions of `v`, as an array column
    * ([] for the empty string — `sequence(1,0)` would count DOWN). */
  private def delOnce(v: Column): Column =
    when(length(v) > lit(0),
      transform(sequence(lit(1), length(v)), i =>
        concat(substring(v, lit(1), i - lit(1)), substring(v, i + lit(1), length(v)))))
      .otherwise(array().cast("array<string>"))

  /** Deletion-neighborhood signatures of `s` up to depth `maxDist`
    * (FastSS — Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"): the string plus every result of deleting ≤ maxDist
    * characters. Two strings within edit distance d always share a
    * depth-≤d signature (delete the d differing positions from each), so
    * an equi-join on signatures is a LOSSLESS candidate generator —
    * levenshtein verification afterwards only removes false positives.
    * Signature count is O(L^d) per string; intended for the short-string
    * regime (names, codes, tokens ≲ 64 chars). All HOFs — codegen'd,
    * no UDF. */
  def deletionSignatures(s: Column, maxDist: Int): Column = {
    require(maxDist >= 1 && maxDist <= 3, "maxDist must be in 1..3 (L^d signature blowup)")
    var acc = array(s)
    var frontier = array(s)
    for (_ <- 1 to maxDist) {
      frontier = array_distinct(flatten(transform(frontier, v => delOnce(v))))
      acc = array_union(acc, frontier)
    }
    acc
  }

  /** All pairs of `df` rows whose `strCol` values are within edit distance
    * `maxDist`, as (id_a, id_b, str_a, str_b, dist) with id_a < id_b.
    * Shape: explode signatures → equi-join on the signature string →
    * dedup candidate pairs → exact `levenshtein` verify. Never all-pairs:
    * work is Σ_sig df(sig)², bounded in practice by the deletion
    * neighborhoods' selectivity; a pathological hot signature (e.g. many
    * length-≤maxDist strings all sharing "") is the caller's cue to
    * pre-filter by length. Dedup BEFORE verify: levenshtein is O(L²) and
    * runs once per candidate pair, not once per shared signature. */
  def fuzzySelfPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    val sig = df.select(col(idCol).as("fz_id"), col(strCol).as("fz_s"),
      explode(deletionSignatures(col(strCol), maxDist)).as("fz_sig"))
    val a = sig.select(col("fz_id").as("id_a"), col("fz_s").as("str_a"), col("fz_sig"))
    val b = sig.select(col("fz_id").as("id_b"), col("fz_s").as("str_b"), col("fz_sig"))
    a.join(b, Seq("fz_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("str_a"), col("str_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .filter(col("dist") <= lit(maxDist))
  }

  /** Probe-side fuzzy join: each `left` row matched to every `right` row
    * within edit distance `maxDist` of its string (record-linkage /
    * spell-candidate lookup). Same lossless signature scheme as
    * [[fuzzySelfPairs]]; output is (leftId, rightId, leftStr, rightStr,
    * dist), one row per matched pair. */
  def fuzzyJoin(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int): DataFrame = {
    val ls = left.select(col(leftId).as("id_l"), col(leftStr).as("str_l"),
      explode(deletionSignatures(col(leftStr), maxDist)).as("fz_sig"))
    val rs = right.select(col(rightId).as("id_r"), col(rightStr).as("str_r"),
      explode(deletionSignatures(col(rightStr), maxDist)).as("fz_sig"))
    ls.join(rs, Seq("fz_sig"))
      .select(col("id_l"), col("id_r"), col("str_l"), col("str_r"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_l"), col("str_r")))
      .filter(col("dist") <= lit(maxDist))
  }

  private def pin(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** A standing FastSS fuzzy-match dictionary (r9 — the approximate-key
    * sibling of [[Search.Bm25Index]], completing the stored-index story for
    * record linkage: [[fuzzyJoin]] recomputes deletion signatures for BOTH
    * sides on every call, which is the benchmark shape, not the deployed
    * one). The dictionary side's exploded deletion-neighborhood signatures
    * are computed ONCE ((fz_sig, id, str) rows), pinned, and probed by each
    * ingest batch with a signature equi-join + levenshtein verify — in a
    * deployment the signature table is stored bucketed by `fz_sig`, so a
    * probe shuffles only the (small) batch side. `maxDist` is fixed at
    * build time: signatures are depth-`maxDist` neighborhoods, and the
    * lossless-candidate guarantee only holds for probes at the SAME depth
    * (a probe at larger d would miss pairs). `release()` when done. */
  final case class FuzzyIndex private[operators] (
      idCol: String, strCol: String, maxDist: Int, signatures: DataFrame) {
    def release(): Unit = signatures.unpersist(false)
  }

  /** Build a [[FuzzyIndex]] over the dictionary `dict`: one projection +
    * HOF signature expansion + explode — embarrassingly parallel, no
    * shuffle (the pin's count materializes it). */
  def fuzzyIndex(dict: DataFrame, idCol: String, strCol: String,
      maxDist: Int): FuzzyIndex = {
    require(maxDist >= 1 && maxDist <= 3, "maxDist must be in 1..3 (L^d signature blowup)")
    val sig = pin(dict.select(col(idCol).as("fz_id"), col(strCol).as("fz_s"),
      explode(deletionSignatures(col(strCol), maxDist)).as("fz_sig")))
    FuzzyIndex(idCol, strCol, maxDist, sig)
  }

  /** [[fuzzyJoin]] of a probe batch against a prebuilt [[FuzzyIndex]] —
    * signatures are expanded for the PROBE side only; the dictionary side
    * is the stored table. Output schema and semantics are identical to
    * `fuzzyJoin(probe, …, dict, …, ix.maxDist)` (the q136 gate asserts
    * index-probe ≡ from-scratch through the oracle): (id_l, id_r, str_l,
    * str_r, dist) with id_l from the probe and id_r from the dictionary.
    * The index is read-only here: strings the dictionary should learn are
    * folded in between runs with [[extendFuzzyIndex]], not per probe. */
  def fuzzyProbe(ix: FuzzyIndex, probe: DataFrame, probeId: String,
      probeStr: String): DataFrame = {
    val ps = probe.select(col(probeId).as("id_l"), col(probeStr).as("str_l"),
      explode(deletionSignatures(col(probeStr), ix.maxDist)).as("fz_sig"))
    ps.join(ix.signatures, Seq("fz_sig"))
      .select(col("id_l"), col("fz_id").as("id_r"),
        col("str_l"), col("fz_s").as("str_r"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_l"), col("str_r")))
      .filter(col("dist") <= lit(ix.maxDist))
  }

  /** Fold an ingest batch INTO the dictionary: the batch's signature rows
    * union in — signatures are a pure per-row function of the string, so
    * the extended index is bit-indistinguishable from one rebuilt on the
    * union. Batch ids must be disjoint from indexed ids (the usual ingest
    * contract). Returns a NEW pinned index; the caller may `release()` the
    * old one afterwards. */
  def extendFuzzyIndex(ix: FuzzyIndex, batch: DataFrame): FuzzyIndex = {
    val add = batch.select(col(ix.idCol).as("fz_id"), col(ix.strCol).as("fz_s"),
      explode(deletionSignatures(col(ix.strCol), ix.maxDist)).as("fz_sig"))
    FuzzyIndex(ix.idCol, ix.strCol, ix.maxDist,
      pin(ix.signatures.unionByName(add)))
  }

  /** Persist a [[FuzzyIndex]]: the signature table, then `params` LAST as
    * the commit marker (the shared [[Dedup.saveEmbeddingIndex]] contract —
    * a save interrupted between the writes leaves no `params`, and
    * [[loadFuzzyIndex]] fails fast instead of probing a torn table). */
  def saveFuzzyIndex(ix: FuzzyIndex, path: String): Unit = {
    ix.signatures.write.mode("overwrite").parquet(s"$path/signatures")
    val spark = ix.signatures.sparkSession
    import spark.implicits._
    Seq((ix.idCol, ix.strCol, ix.maxDist))
      .toDF("id_col", "str_col", "max_dist")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a stored [[FuzzyIndex]] (signatures pinned). Signatures are
    * stored bytes, so a loaded index probes bit-identically to the one
    * saved. Fails fast with a clear message on a partial save. */
  def loadFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): FuzzyIndex = {
    Dedup.requireIndexParts(spark, path, Seq("params", "signatures"), "FuzzyIndex")
    val p = spark.read.parquet(s"$path/params").head()
    FuzzyIndex(p.getAs[String]("id_col"), p.getAs[String]("str_col"),
      p.getAs[Int]("max_dist"), pin(spark.read.parquet(s"$path/signatures")))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the OTHER
    * classic entity-resolution candidate generator next to
    * [[fuzzySelfPairs]]'s FastSS: sort records by a blocking key and emit
    * every pair within `window` positions of each other. Complements
    * FastSS where typos preserve prefixes but exceed its edit budget
    * (k=1,2): SNM's recall is ordering-local, FastSS's is edit-local.
    * Deterministic: position order is (`keyCol`, `idCol`) — a total
    * order. Output: (`id_a`, `id_b`, `key_a`, `key_b`, `gap` 1..w−1),
    * each unordered pair once (a precedes b in sort order).
    *
    * Scale shape: the global position uses the two-level pattern with
    * PREFIX buckets (first `prefixLen` chars — fixed-length prefix order
    * is consistent with full string order), so no data-sized
    * single-partition sort; candidates come from a position equi-join
    * with (window−1)-way fan-out — pair volume is exactly N·(w−1),
    * linear, never quadratic. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int, prefixLen: Int = 2): DataFrame = {
    require(window >= 2, "window must be >= 2 to ever emit a pair")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    val rows = df.filter(col(idCol).isNotNull && col(keyCol).isNotNull)
      .select(col(idCol).as("__id"), col(keyCol).as("__k"))
    val pos = Ranks.positions(rows, substring(col("__k"), 1, prefixLen),
        Seq(col("__k"), col("__id")), "__pos")
      .select(col("__id"), col("__k"), col("__pos"))
      .localCheckpoint(true)
    pos.select(col("__id").as("id_a"), col("__k").as("key_a"), col("__pos"))
      .withColumn("__j", explode(sequence(lit(1), lit(window - 1))))
      .withColumn("gap", col("__j").cast("long")).drop("__j")
      .withColumn("__pos_b", col("__pos") + col("gap"))
      .join(pos.select(col("__id").as("id_b"), col("__k").as("key_b"),
        col("__pos").as("__pos_b")), Seq("__pos_b"))
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"), col("gap"))
  }
}
