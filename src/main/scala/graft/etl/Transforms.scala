package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import scala.util.{Failure, Success, Try}

/** Row-level transform operators (reference §2.4).
  *
  * The reference's transforms are user closures running one record at a time
  * in a dedicated tokio task (`etl-core/src/transformer.rs:7-65`,
  * `etl-job/src/transform_store.rs:13-102`). Here they are Dataset
  * operations, which Spark pipelines inside a whole-stage-codegen'd task per
  * partition — same semantics, cluster-parallel. Prefer `Column`
  * expressions where possible (see graft.queries packs); these typed
  * combinators exist for genuinely imperative user logic.
  */
object Transforms {

  /** T1 `Transformer`: sync map-with-filter. `f` returning None drops the
    * record — exactly the reference's `Ok(None)` filter contract
    * (`transformer.rs:39`).
    */
  def transformer[I, O: Encoder](ds: Dataset[I])(f: I => Option[O]): Dataset[O] =
    ds.flatMap(i => f(i).toSeq)

  /** T1/T2 with errors-as-data: a throwing record becomes an error element
    * carrying the input's string form (`transformer.rs:40-55`), instead of
    * failing the job. Returns typed (good, error) streams derived from one
    * shared pass.
    */
  def transformerTolerant[I, O: Encoder](ds: Dataset[I])(f: I => Option[O])(
      implicit attemptEnc: Encoder[(Option[O], Option[String])],
      strEnc: Encoder[String]): (Dataset[O], Dataset[String]) =
    transformerTolerantScoped(ds)(f)._1

  /** [[transformerTolerant]] plus a release handle for the shared attempted
    * cache. The plain form leaves the cache to Spark's LRU eviction (fine
    * for a one-shot pipeline); loops over many inputs should call the
    * release once both branches are materialized, or caches accumulate.
    */
  def transformerTolerantScoped[I, O: Encoder](ds: Dataset[I])(f: I => Option[O])(
      implicit attemptEnc: Encoder[(Option[O], Option[String])],
      strEnc: Encoder[String]): ((Dataset[O], Dataset[String]), () => Unit) = {
    val attempted = ds.map { i =>
      Try(f(i)) match {
        case Success(out) => (out, None: Option[String])
        case Failure(e)   => (None: Option[O], Some(s"${e.getMessage}: $i"))
      }
    }.persist()
    val good = attempted.flatMap(_._1.toSeq)
    val errs = attempted.flatMap(_._2.toSeq)
    ((good, errs), () => { attempted.unpersist(); () })
  }

  /** T2 1→N expansion — the case the reference declares but panics on
    * (`etl-job/src/transform_store.rs:70-72`): trivially complete as flatMap.
    */
  def expand[I, O: Encoder](ds: Dataset[I])(f: I => Seq[O]): Dataset[O] =
    ds.flatMap(f)

  /** T3 `Batcher`, size-bounded: group consecutive records of each partition
    * into fixed-size batches (`etl-core/src/batch.rs:10-70`). Batches never
    * cross partitions — at scale this is the only sane contract (the
    * reference is single-stream so "consecutive" was global; we document the
    * per-partition scoping).
    */
  def batchBySize[I](ds: Dataset[I], size: Int)(
      implicit e: Encoder[Seq[I]]): Dataset[Seq[I]] = {
    require(size > 0, "batch size must be positive")
    ds.mapPartitions(_.grouped(size).map(_.toSeq))
  }

  /** T3 `Batcher`, predicate-bounded: `newBatch(next, current)` decides batch
    * boundaries — size-, key-, or content-based, matching the reference's
    * custom-predicate contract. Flushes the tail batch (`batch.rs:61-65`).
    */
  def batchBy[I](ds: Dataset[I])(newBatch: (I, Seq[I]) => Boolean)(
      implicit e: Encoder[Seq[I]]): Dataset[Seq[I]] =
    ds.mapPartitions { it =>
      new Iterator[Seq[I]] {
        private var buf = Vector.empty[I]
        private var nextItem: Option[I] = None
        override def hasNext: Boolean = buf.nonEmpty || nextItem.nonEmpty || it.hasNext
        override def next(): Seq[I] = {
          nextItem.foreach { i => buf = Vector(i); nextItem = None }
          while (it.hasNext && nextItem.isEmpty) {
            val i = it.next()
            if (buf.nonEmpty && newBatch(i, buf)) nextItem = Some(i)
            else buf = buf :+ i
          }
          val out = buf
          buf = Vector.empty
          out
        }
      }.filter(_.nonEmpty)
    }

  /** T4 `Apply`: terminal foreach with success counting
    * (`etl-core/src/task/apply.rs:7-56`). Runs distributed; returns the
    * number of records the side effect was applied to.
    */
  def applyForeach[I](ds: Dataset[I])(f: I => Unit): Long = {
    val acc = ds.sparkSession.sparkContext.longAccumulator("graft.apply.count")
    ds.foreachPartition { (it: Iterator[I]) =>
      it.foreach { i => f(i); acc.add(1L) }
    }
    acc.value
  }

  /** J2 broadcast splitter: one source fanned out to N sinks
    * (`etl-core/src/splitter.rs:71-139`). Spark-native form: persist once,
    * run each sink as an independent action over the cached data — no
    * re-scan, no cross-consumer backpressure coupling.
    */
  def fanOut(df: DataFrame, sinks: Seq[DataFrame => Unit]): Unit = {
    val cached = df.persist()
    // no warm-up action: sinks run sequentially, so the FIRST sink's scan
    // populates the cache and later sinks read it — a separate count() would
    // cost one full extra pass of scheduling at scale for nothing.
    // CONTRACT: each sink must consume the frame fully. Spark caches a
    // partition only when its iterator is drained, so a partial consumer
    // first (e.g. .limit(n).write) leaves most partitions uncached and
    // later sinks re-scan the source — correct only while the source is
    // static. Run partial consumers LAST, or materialize first (count())
    // when the source can change between sinks.
    try sinks.foreach(sink => sink(cached))
    finally { cached.unpersist() }
  }

  /** E3 `key_values`, schema-generic: flatten every non-id column of ANY
    * row into (idCols…, column-name, string-value) pairs — the reference
    * flattens arbitrary serde rows this way as its row→SQL bridge
    * (`etl-core/src/utils.rs:52-82`). Values are cast to string first (the
    * reference emits string pairs too), then unpivoted with Spark's native
    * melt — which plans as a map-only Expand: zero shuffle, n_value_cols
    * output rows per input row, survives any width and any scale.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], colName: String = "col",
      valName: String = "val"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val valueCols = df.columns.filterNot(idCols.contains)
    require(valueCols.nonEmpty, "unpivot needs at least one non-id column")
    require(idCols.forall(df.columns.contains),
      s"id columns ${idCols.filterNot(df.columns.contains).mkString(", ")} not in schema")
    df.select(idCols.map(col) ++
        valueCols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
        colName, valName)
  }

  /** Exact global rank by (md5(id), id) — the deterministic corpus-shuffle
    * position a pretraining run reads documents in — WITHOUT the
    * single-partition sort a naive global `row_number()` window plans
    * (Spark moves ALL rows to one task for an unpartitioned window; a
    * 100 TB corpus simply dies there). Distributed form: the hash's first
    * byte splits rows into 256 buckets whose lexicographic order equals
    * hash order; per-bucket counts (one partial agg, 256 rows collected)
    * become broadcast prefix offsets, and each bucket sorts independently
    * under a PARTITIONED window. Rank = bucket offset + within-bucket
    * row_number — identical to the naive global rank, at 256-way (or
    * `spark.sql.shuffle.partitions`-way) parallelism.
    */
  def globalHashRank(df: DataFrame, idCol: String,
      rankCol: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val clash = Seq("__grb", "__groff").filter(df.columns.contains)
    require(clash.isEmpty,
      s"input must not contain reserved column(s) ${clash.mkString(", ")}")
    val hash = md5(col(idCol).cast("string"))
    val bucket = substring(hash, 1, 2)
    val counts = df.groupBy(bucket.as("__grb")).agg(count(lit(1)).as("n"))
      .collect().map { r =>
        // md5(NULL) buckets to NULL: a NULL id has no defined rank (and
        // engines disagree on NULL ordering) — fail loudly, never drop
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"globalHashRank: id column '$idCol' contains NULLs — a NULL id " +
            "has no deterministic rank")
        r.getString(0) -> r.getLong(1)
      }.sortBy(_._1)
    if (counts.isEmpty) return df.withColumn(rankCol, lit(1L)) // no rows
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val offsetsDf = broadcast(df.sparkSession.createDataFrame(offsets)
      .toDF("__grb", "__groff"))
    val w = Window.partitionBy(col("__grb")).orderBy(hash.asc, col(idCol).asc)
    df.withColumn("__grb", bucket)
      .join(offsetsDf, "__grb")
      .withColumn(rankCol, row_number().over(w).cast("long") + col("__groff"))
      .drop("__grb", "__groff")
  }

  /** Exact global rank by an ARBITRARY sort key without a SinglePartition
    * window (the [[globalHashRank]] offset trick generalized from hash
    * order to any key order): range-repartition on the key, freeze the
    * partition ids (localCheckpoint — `spark_partition_id` is
    * nondeterministic across recomputations), collect the ≤ numShuffle-
    * Partitions per-partition counts into prefix offsets, and add each
    * row's offset to its within-partition row_number. Equal keys land in
    * one range partition, so rank is defined purely by the key order —
    * independent of sampling or partitioning — but the caller MUST make
    * the key unique (end it with a unique id) or ties rank arbitrarily.
    */
  def globalSortRank(df: DataFrame, keys: Seq[org.apache.spark.sql.Column],
      rankCol: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "globalSortRank needs at least one key column")
    val clash = Seq("__gsp", "__gso").filter(df.columns.contains)
    require(clash.isEmpty,
      s"input must not contain reserved column(s) ${clash.mkString(", ")}")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val staged = df.repartitionByRange(parts, keys: _*)
      .withColumn("__gsp", spark_partition_id())
      .localCheckpoint()
    val counts = staged.groupBy("__gsp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (counts.isEmpty) return df.withColumn(rankCol, lit(1L)) // no rows
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val offsetsDf = broadcast(df.sparkSession.createDataFrame(offsets)
      .toDF("__gsp", "__gso"))
    val w = Window.partitionBy(col("__gsp")).orderBy(keys: _*)
    staged.join(offsetsDf, "__gsp")
      .withColumn(rankCol, row_number().over(w).cast("long") + col("__gso"))
      .drop("__gsp", "__gso")
  }

  /** Exact global INCLUSIVE prefix sum of `weightCol` in an arbitrary key
    * order — [[globalSortRank]] generalized from row counting (weight 1)
    * to weighted running totals: range-repartition on the key, freeze the
    * partition ids, collect the ≤ numShufflePartitions per-partition
    * weight sums into prefix offsets, and add each row's offset to its
    * within-partition running sum. Equal keys land in one range
    * partition, so the prefix is defined purely by the key order; as with
    * globalSortRank the caller must make the key unique or ties
    * accumulate in arbitrary order (fine when downstream consumers are
    * tie-block invariant, e.g. [[graft.etl.Profile.giniByGroup]]).
    */
  def globalSortPrefixSum(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column], weightCol: String,
      prefixCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "globalSortPrefixSum needs at least one key column")
    val clash = Seq("__gsp", "__gso").filter(df.columns.contains)
    require(clash.isEmpty,
      s"input must not contain reserved column(s) ${clash.mkString(", ")}")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val staged = df.repartitionByRange(parts, keys: _*)
      .withColumn("__gsp", spark_partition_id())
      .localCheckpoint()
    val counts = staged.groupBy("__gsp")
      .agg(sum(col(weightCol)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (counts.isEmpty) return df.withColumn(prefixCol, col(weightCol))
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val offsetsDf = broadcast(df.sparkSession.createDataFrame(offsets)
      .toDF("__gsp", "__gso"))
    val w = Window.partitionBy(col("__gsp")).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged.join(offsetsDf, "__gsp")
      .withColumn(prefixCol, sum(col(weightCol)).over(w) + col("__gso"))
      .drop("__gsp", "__gso")
  }

  /** Runs `write` over `df` with `metrics` attached by `Dataset.observe`,
    * and returns what `write` returned with the observed row, read by
    * Spark's blocking `Observation.get` — the metrics ride the write's own
    * action: one pass, no cache, no extra job, and no deadline, so a slow
    * listener bus delays the result but never changes it. `write` runs its
    * actions before it returns. The row is empty when no query `write` ran
    * read `df`: the optimizer removed the observed plan (it sits under a
    * `filter("1 = 0")` or a `limit(0)`), or the frame was not used.
    */
  def observed[T](df: DataFrame, metrics: Seq[Column])(write: DataFrame => T): (T, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val watched = df.observe(obs, metrics.head, metrics.tail: _*)
    val out = write(watched)
    // Spark completes an observation when a query holding it ends, in the
    // order the queries ran, and without metrics when the optimizer removed
    // it: this job-free query completes `obs` empty unless a query of
    // `write` completed it first
    if (!obs.future.isCompleted) watched.limit(0).collect()
    (out, obs.get)
  }

  /** T5 `Pipeline`: source→sink copy with stats
    * (`etl-core/src/task/pipeline.rs:5-50`): the rows `write` wrote, as an
    * [[observed]] `count(lit(1))` (the reference's `DataOutputStats`).
    * `write` must trigger exactly one action over the frame it receives.
    */
  def copyPipeline(df: DataFrame, write: DataFrame => Unit): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    observed(df, Seq(count(lit(1)).as("rows")))(write)._2.getOrElse("rows", 0L).asInstanceOf[Long]
  }
}
