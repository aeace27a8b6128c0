package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The MERGE kernel shared by the store and the query surface: full-outer
  * equi-join on the key + row-wise source-wins projection. True
  * `WHEN MATCHED UPDATE SET *` semantics — a matched source row replaces
  * the target row ENTIRELY, including NULLing columns the source has as
  * NULL (a per-column coalesce would silently keep stale target values).
  * Keys match with plain equality, mirroring `MERGE ON t.k = s.k`: a NULL
  * source key never matches a NULL target key and inserts a new row
  * (pinned by StoreSpec's NULL-key test). */
object Merge {
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.withColumn("__t_exists", lit(true))
    val srf = source.withColumn("__s_exists", lit(true))
    val cond = keys.map(k => t(k) === srf(k)).reduce(_ && _)
    val cols = target.columns.map { c =>
      when(srf("__s_exists").isNotNull, srf(c)).otherwise(t(c)).as(c)
    }
    t.join(srf, cond, "full_outer").select(cols.toIndexedSeq: _*)
  }

  /** Delta's three-clause MERGE in one pass:
    * WHEN MATCHED AND deleteWhen THEN DELETE /
    * WHEN MATCHED THEN UPDATE SET * /
    * WHEN NOT MATCHED AND NOT deleteWhen THEN INSERT *.
    * `deleteWhen` is resolved against the SOURCE side (the CDC
    * convention: the feed carries an op flag the target never stores);
    * a delete arriving for an absent key is a no-op, matching Delta.
    * Only the target's columns survive, so source-only flag columns
    * never reach the table. */
  def conditional(target: DataFrame, source: DataFrame, keys: Seq[String],
      deleteWhen: DataFrame => org.apache.spark.sql.Column,
      updateWhen: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val t = target.withColumn("__t_exists", lit(true))
    val srf = source.withColumn("__s_exists", lit(true))
    val cond = keys.map(k => t(k) === srf(k)).reduce(_ && _)
    // isNotNull is two-valued, so unmatched target rows (null source
    // side) evaluate del = false && ... = false and always survive
    val sExists = srf("__s_exists").isNotNull
    val tExists = t("__t_exists").isNotNull
    val del = sExists && coalesce(deleteWhen(srf), lit(false))
    // guarded update (WHEN MATCHED AND cond THEN UPDATE, else keep):
    // the out-of-order-CDC idiom — e.g. (target, source) => source
    // version newer than target's. May read BOTH sides. Inserts are
    // never guarded (an unmatched source row has no target to keep).
    val upd = updateWhen
      .map(f => coalesce(f(t, srf), lit(false)))
      .getOrElse(lit(true))
    val takeSource = sExists && (!tExists || upd)
    val cols = target.columns.map { c =>
      when(takeSource, srf(c)).otherwise(t(c)).as(c)
    }
    t.join(srf, cond, "full_outer")
      .filter(!del)
      .select(cols.toIndexedSeq: _*)
  }
}
