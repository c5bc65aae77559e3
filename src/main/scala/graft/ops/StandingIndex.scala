package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk contract of a standing corpus index — the one owner of
  * the format both index families build, read and append
  * ([[TextDedup.writePrefixIndex]] / [[TextDedup.appendPrefixIndex]] /
  * [[TextDedup.prefixJaccardAgainstIndexed]] and their
  * [[CosineAllPairs]] twins `writeIndex` / `appendIndex` /
  * `pairsAgainstIndexed`):
  *
  *  - naming: every index table is `<prefix>_<suffix>`; with a
  *    `pathPrefix` it is EXTERNAL at `<pathPrefix>/<suffix>`, so one
  *    directory holds the whole index (and deleting it deletes all);
  *  - layout: bucketed and key-sorted on its join key
  *    ([[ScaleOps.writeBucketed]] / [[ScaleOps.appendBucketed]] —
  *    zero corpus-side exchange for a reader joining on that key).
  *    `shardBy` > 0 adds hive directory partitions
  *    `__shard = pmod(hash(key), shardBy)` UNDER the bucketing, so a
  *    reader collects its batch's shard set (bounded by `shardBy`) and
  *    prunes whole directories; appends land in the same shards, so
  *    the pruning stays exact across appends;
  *  - the build contract: a 1-row `<prefix>_meta` sidecar
  *    (tau_build, shingle_n, buckets, shard_by) written with the
  *    index and enforced on use. A READ needs τ ≥ τ_build (stored
  *    prefixes are cut at τ_build — longer than a stricter read needs,
  *    too short for a looser one) and the same shingleN; an APPEND
  *    needs τ, shingleN and buckets all equal to the build's, or
  *    readers between the two τs silently lose pairs.
  *
  * What each family stores in its tables — the frozen `_rank` order,
  * cosine's `_raised`/`_tfs` freeze-and-compensate — stays in the op.
  */
private[ops] final class StandingIndex private (
    spark: SparkSession,
    prefix: String,
    pathPrefix: Option[String],
    meta: StandingIndex.Meta) {
  import StandingIndex.ShardCol

  /** The catalog name of the index table `suffix`. */
  def table(suffix: String): String = s"${prefix}_$suffix"

  private def path(suffix: String): Option[String] =
    pathPrefix.map(p => s"$p/$suffix")

  private def shardOf(key: String): Column =
    pmod(hash(col(key)), lit(meta.shardBy))

  private def sharded(df: DataFrame, key: String): DataFrame =
    if (meta.shardBy > 0) df.withColumn(ShardCol, shardOf(key)) else df

  private def partitionCol: Option[String] =
    if (meta.shardBy > 0) Some(ShardCol) else None

  /** Overwrite the index table `suffix`, bucketed (and sharded) on
    * `key`.
    */
  def write(df: DataFrame, suffix: String, key: String): Unit =
    ScaleOps.writeBucketed(sharded(df, key), table(suffix), key,
      meta.buckets, path(suffix), partitionCol)

  /** Append rows to the index table `suffix`, in the build's layout. */
  def append(df: DataFrame, suffix: String, key: String): Unit =
    ScaleOps.appendBucketed(sharded(df, key), table(suffix), key,
      meta.buckets, partitionCol)

  /** Overwrite a small unbucketed side table (one file) — the `_meta`
    * sidecar, and a family's logs.
    */
  def writeSmall(df: DataFrame, suffix: String): Unit = {
    val w = df.coalesce(1).write.mode("overwrite").format("parquet")
    path(suffix).fold(w.saveAsTable(table(suffix)))(p =>
      w.option("path", p).saveAsTable(table(suffix)))
  }

  /** Write the build contract. It rides WITH the index so the reader
    * and append paths can reject a mismatched call instead of
    * silently losing pairs.
    */
  def writeMeta(): Unit = {
    import spark.implicits._
    writeSmall(
      Seq((meta.tauBuild, meta.shingleN, meta.buckets, meta.shardBy))
        .toDF("tau_build", "shingle_n", "buckets", "shard_by"),
      "meta")
  }

  /** The shards `key` takes over the union of `frames`: one collect,
    * bounded by `shardBy` (a build-time literal) — the bounded-by-
    * construction collect rule. An unsharded index runs no action.
    */
  def shardsOf(key: String, frames: DataFrame*): Seq[Int] =
    if (meta.shardBy <= 0) Nil
    else frames.map(_.select(shardOf(key).as(ShardCol)))
      .reduce(_ unionAll _)
      .distinct().collect().map(_.getInt(0)).toSeq

  /** The index table `suffix`, pruned to `shards` on a sharded index:
    * a row outside them can match no batch key, so filtering on the
    * partition column skips whole directories before a byte is read.
    */
  def read(suffix: String, shards: Seq[Int]): DataFrame = {
    val t = spark.table(table(suffix))
    if (meta.shardBy <= 0) t
    else t.filter(col(ShardCol).isin(shards: _*)).drop(ShardCol)
  }
}

private[ops] object StandingIndex {

  /** The build contract stored in `<prefix>_meta`. */
  final case class Meta(
      tauBuild: Double,
      shingleN: Int,
      buckets: Int,
      shardBy: Int)

  private val ShardCol = "__shard"

  /** An index about to be (re)built under `meta`. */
  def build(
      spark: SparkSession,
      prefix: String,
      pathPrefix: Option[String],
      meta: Meta): StandingIndex = {
    require(meta.shardBy >= 0, s"shardBy must be >= 0, got ${meta.shardBy}")
    new StandingIndex(spark, prefix, pathPrefix, meta)
  }

  /** Open a built index for a nightly read at (`threshold`,
    * `shingleN`), enforcing the read contract; `op` names the caller
    * in the rejection.
    */
  def forRead(
      spark: SparkSession,
      prefix: String,
      op: String,
      threshold: Double,
      shingleN: Int): StandingIndex = {
    val m = metaOf(spark, prefix)
    require(threshold >= m.tauBuild,
      s"$op: threshold $threshold < the index's build threshold " +
        s"${m.tauBuild} — stored prefixes are cut at the build τ and a " +
        "looser read would silently lose pairs; rebuild the index at " +
        "the looser τ")
    requireShingleN(op, shingleN, m)
    new StandingIndex(spark, prefix, None, m)
  }

  /** Open a built index for an append at (`threshold`, `shingleN`,
    * `buckets`), enforcing the append contract.
    */
  def forAppend(
      spark: SparkSession,
      prefix: String,
      op: String,
      threshold: Double,
      shingleN: Int,
      buckets: Int): StandingIndex = {
    val m = metaOf(spark, prefix)
    require(threshold == m.tauBuild,
      s"$op: threshold $threshold != the index's build threshold " +
        s"${m.tauBuild} — appended prefixes must be cut exactly like " +
        "the stored ones or readers between the two τs silently lose " +
        "pairs")
    requireShingleN(op, shingleN, m)
    require(buckets == m.buckets,
      s"$op: buckets $buckets does not match the index's build " +
        s"buckets ${m.buckets}")
    new StandingIndex(spark, prefix, None, m)
  }

  private def requireShingleN(op: String, shingleN: Int, m: Meta): Unit =
    require(shingleN == m.shingleN,
      s"$op: shingleN $shingleN does not match the index's build " +
        s"shingleN ${m.shingleN}")

  private def metaOf(spark: SparkSession, prefix: String): Meta = {
    val r = spark.table(s"${prefix}_meta").collect().head
    Meta(r.getDouble(r.fieldIndex("tau_build")),
      r.getInt(r.fieldIndex("shingle_n")),
      r.getInt(r.fieldIndex("buckets")),
      r.getInt(r.fieldIndex("shard_by")))
  }
}
