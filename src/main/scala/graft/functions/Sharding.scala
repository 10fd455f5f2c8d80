package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Output-shard assignment for training-data pipelines: pack documents
  * into shards of ~`budget` tokens each, in a stable global order.
  * (Beyond the reference — builder-prompt LLM-pipeline first-class op.)
  *
  * The cumulative sum is a two-phase distributed prefix sum: one pass
  * computes per-partition weight totals (O(#partitions) driver state),
  * a second pass streams each partition with its start offset. Never a
  * partitionless `sum().over(Window.orderBy(...))` — that funnels the
  * whole table through a single task, the classic 100 TB deadend.
  */
object Sharding {

  /** Assign `shardCol` = floor(exclusive-prefix-sum(weight) / budget)
    * under the total order given by `orderCols`: each document lands in
    * the shard where its first token falls, so every shard except the
    * last holds ≥ budget tokens' worth of boundary and assignment is
    * independent of partitioning (deterministic, append-reproducible).
    */
  def packByBudget(
      df: DataFrame,
      weightCol: String,
      orderCols: Seq[String],
      budget: Long,
      shardCol: String = "shard"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val sorted = df.orderBy(orderCols.map(col): _*)
    val idx = sorted.schema.fieldIndex(weightCol)
    // null weights count as 0 rather than NPE-ing a 100 TB job in pass 2
    def weight(r: Row): Long =
      if (r.isNullAt(idx)) 0L else r.getAs[Number](idx).longValue()
    val rdd = sorted.rdd
    // the sort is reused by both passes — cache it (Bench/pipelines
    // unpersist leftovers; at cluster scale this is one shuffle's worth)
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator(i -> it.foldLeft(0L)(_ + weight(_)))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val outSchema = StructType(sorted.schema.fields :+
      StructField(shardCol, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      var running = offsets(i)
      it.map { r =>
        val shard = running / budget
        running += weight(r)
        Row.fromSeq(r.toSeq :+ shard)
      }
    }
    // materialize the result eagerly, then release the sorted input —
    // without this every call leaked the cached sort for the session's
    // lifetime (the checkpointed result is owned by the caller and is
    // reaped by the ContextCleaner once unreferenced)
    val result = df.sparkSession.createDataFrame(out, outSchema).localCheckpoint(true)
    rdd.unpersist(false)
    result
  }

  /** GPT-style concat-and-chunk packing: documents are concatenated in
    * the stable `orderCols` order into one global token stream, which is
    * cut into fixed `seqLen`-token training sequences. Each document
    * gets its global token offset and the ids of the first and last
    * sequences it overlaps (a doc spanning a boundary contributes to
    * both — exactly what a loader needs to materialize sequences).
    * Same two-phase prefix sum as [[packByBudget]]: O(#partitions)
    * driver state, assignment independent of partitioning.
    */
  def concatChunk(
      df: DataFrame,
      weightCol: String,
      orderCols: Seq[String],
      seqLen: Long,
      offsetCol: String = "tok_offset",
      firstSeqCol: String = "seq_first",
      lastSeqCol: String = "seq_last"): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val sorted = df.orderBy(orderCols.map(col): _*)
    val idx = sorted.schema.fieldIndex(weightCol)
    def weight(r: Row): Long =
      if (r.isNullAt(idx)) 0L else r.getAs[Number](idx).longValue()
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator(i -> it.foldLeft(0L)(_ + weight(_)))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val outSchema = StructType(sorted.schema.fields ++ Seq(
      StructField(offsetCol, LongType, nullable = false),
      StructField(firstSeqCol, LongType, nullable = false),
      StructField(lastSeqCol, LongType, nullable = false)))
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      var running = offsets(i)
      it.map { r =>
        val w = weight(r)
        val off = running
        running += w
        // empty docs pin to the sequence at their offset
        val last = if (w == 0) off / seqLen else (off + w - 1) / seqLen
        Row.fromSeq(r.toSeq ++ Seq(off, off / seqLen, last))
      }
    }
    val result = df.sparkSession.createDataFrame(out, outSchema).localCheckpoint(true)
    rdd.unpersist(false)
    result
  }

  /** RAG-style sliding-window chunking: each document's normalized
    * token stream is cut into chunks of up to `chunkSize` tokens
    * starting at every `stride` offset (overlap = chunkSize − stride),
    * the retrieval-index preparation every embedding pipeline runs
    * before encoding. Output per chunk: [id, chunk_id, n_tokens,
    * chunk_hash (md5 of the space-joined tokens), first_token,
    * last_token]. Entirely builtin expressions (split / sequence /
    * slice / md5) — map-only, stays in whole-stage codegen, no shuffle,
    * no driver state: the op a 100 TB corpus can run as a pure
    * projection. Empty documents yield no chunks. Deterministic and
    * engine-portable (the chunk set is a pure function of the text), so
    * DuckDB replays it row-for-row.
    */
  def chunkWithOverlap(
      df: DataFrame,
      textCol: String,
      idCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in [1, chunkSize] — a larger stride drops tokens")
    val norm = TextOps.normalizeText(col(textCol))
    df.select(col(idCol).as("id"), split(norm, " ").as("__t"))
      .filter(size(col("__t")) > 0 && length(element_at(col("__t"), 1)) > 0)
      .select(col("id"), col("__t"),
        explode(sequence(lit(0), size(col("__t")) - 1, lit(stride))).as("__s"))
      .select(col("id"),
        (col("__s") / stride).cast("long").as("chunk_id"),
        slice(col("__t"), col("__s") + 1, lit(chunkSize)).as("__chunk"))
      .select(col("id"), col("chunk_id"),
        size(col("__chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("__chunk")).cast("binary")).as("chunk_hash"),
        element_at(col("__chunk"), 1).as("first_token"),
        element_at(col("__chunk"), -1).as("last_token"))
  }

  /** Packing-efficiency report for a fixed training sequence length:
    * ONE row comparing the two standard strategies — doc-boundary
    * packing (each document padded up to its own ⌈tokens/seqLen⌉
    * sequences; waste = padding) vs concat-and-chunk packing (one
    * global stream, ⌈total/seqLen⌉ sequences, near-zero waste but
    * cross-doc attention bleed). The number that decides which packing
    * a pretraining run uses at a given seqLen. Single aggregation with
    * map-side partials — no shuffle beyond the 1-row combine; null/
    * negative weights count as 0 (same contract as [[packByBudget]]).
    */
  def packingEfficiency(
      df: DataFrame, weightCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = greatest(coalesce(col(weightCol).cast("long"), lit(0L)), lit(0L))
    val seqsOf = (t: Column) => ceil(t.cast("double") / seqLen).cast("long")
    // coalesce: sum over an EMPTY frame is null — the report contract is
    // zeros, not a null row
    df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(w), lit(0L)).as("total_tokens"),
        coalesce(sum(seqsOf(w)), lit(0L)).as("padded_seqs"))
      .select(col("n_docs"), col("total_tokens"), col("padded_seqs"),
        round(when(col("padded_seqs") === 0, 0.0)
          .otherwise(lit(1.0) - col("total_tokens").cast("double") /
            (col("padded_seqs") * seqLen).cast("double")), 4).as("padded_waste"),
        seqsOf(col("total_tokens")).as("concat_seqs"),
        round(when(col("total_tokens") === 0, 0.0)
          .otherwise(lit(1.0) - col("total_tokens").cast("double") /
            (seqsOf(col("total_tokens")) * seqLen).cast("double")), 4)
          .as("concat_waste"))
  }

  /** Deterministic corpus shuffle for training-shard writes: every row
    * gets a `shard` (md5-bucket of its salted id) and a `shard_pos`
    * (its rank within the shard under the hash order) — the reproducible
    * pseudo-random global training order [shard, shard_pos] WITHOUT a
    * global sort: assignment is a map-only hash, and the within-shard
    * rank shuffles on shard and sorts one shard's rows per task (the
    * same shape as a z-ordered write's range sort — external-sort
    * linear at any scale). Salt gives epoch-distinct orders; identical
    * inputs + salt reproduce bit-identically on any engine, partitioning
    * or cluster layout.
    */
  def shuffledShards(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // salt/idCol go through the Column API (lit + col), never string
    // interpolation into expr(): a quote or backslash in the salt, or a
    // backtick in the column name, must reach the hash as data — the same
    // contract piiMentions already keeps.
    val h = GraftFunctions.saltedKeyHash(salt, col(idCol).cast("string"))
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("shard_pos",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("shard"))
            .orderBy(col("__h"), col(idCol))) - 1)
      .drop("__h")
  }
}
