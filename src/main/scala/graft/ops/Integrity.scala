package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F24 — md5 integrity verification (download_reads.smk:52-79): the
  * workflow's `md5sum -c` gate as a relational operator. Content digests
  * are computed distributed over the binaryFile source and joined to the
  * manifest; the result classifies every file as ok / corrupt / missing /
  * unexpected. The reference STOPS the workflow on any failure — callers
  * get the full classification and decide. */
object Integrity {

  /** Digest a directory of files (distributed; each task hashes its
    * split's files). */
  def digests(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        md5(col("content")).as("md5_actual"))

  /** Verify against a manifest (file_name, md5_expected). */
  def verify(actual: DataFrame, manifest: DataFrame): DataFrame =
    actual.join(manifest, Seq("file_name"), "full_outer")
      .select(col("file_name"),
        when(col("md5_actual").isNull, "missing")
          .when(col("md5_expected").isNull, "unexpected")
          .when(col("md5_actual") === col("md5_expected"), "ok")
          .otherwise("corrupt").as("status"),
        col("md5_actual"), col("md5_expected"))

  /** Referential-integrity audit of one child→parent relation: the
    * orphan census a warehouse runs before trusting joins — child rows
    * whose foreign key resolves to no parent (null FKs tallied
    * separately: SQL RI permits them), plus the reverse direction
    * (parents no child references). One row out per relation; anti and
    * semi joins only, so Catalyst broadcasts whichever side is small
    * and the audit never materializes a join product. */
  def riAudit(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val fk = child.select(col(childKey).as("_fk"))
    val pk = parent.select(col(parentKey).as("_pk"))
    val counts = fk.agg(count(lit(1)).as("n_child"),
      count(when(col("_fk").isNull, 1L)).as("n_null_fk"))
    val orphans = fk.where(col("_fk").isNotNull)
      .join(pk, col("_fk") === col("_pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val childless = pk
      .join(fk.where(col("_fk").isNotNull), col("_pk") === col("_fk"),
        "left_anti")
      .agg(count(lit(1)).as("n_childless"))
    val parents = pk.agg(count(lit(1)).as("n_parents"))
    counts.crossJoin(orphans).crossJoin(parents).crossJoin(childless)
      .select(lit(name).as("relation"), col("n_child"), col("n_null_fk"),
        col("n_orphans"), col("n_parents"), col("n_childless"),
        (col("n_orphans") === 0L).as("ri_holds"))
  }

  /** Two-level Merkle fingerprint of a TABLE (not files): leaf =
    * md5(id:payload), bucket hash = md5 of the bucket's leaves
    * concatenated in id order, root = md5 of the bucket hashes in
    * bucket order — the tamper-evidence / replication-diff primitive
    * (compare roots first; on mismatch compare bucket rows to locate
    * the divergent range without moving data).
    *
    * Scale shape: leaves are a narrow scan projection; each bucket's
    * hash is one map-side-combinable collect_list whose size is the
    * BUCKET size (callers pick `bucketExpr` so buckets stay bounded —
    * e.g. id div 10⁴); the root folds the bucket-level table, which is
    * data-size∕bucket-size rows. The id-sorted concatenation makes the
    * fingerprint ORDER-INDEPENDENT of physical layout: two replicas
    * with different partitioning hash identically.
    *
    * Output: one row per bucket (bucket, n_rows, bucket_hash) plus the
    * table-wide root repeated on every row (broadcast of one value). */
  def merkle(df: DataFrame, idCol: String, payloadCol: String,
      bucketExpr: org.apache.spark.sql.Column): DataFrame = {
    val leaves = df.select(bucketExpr.as("bucket"), col(idCol).as("_id"),
      md5(concat_ws(":", col(idCol), col(payloadCol))).as("_leaf"))
    val buckets = leaves.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("_id"), col("_leaf")))),
          x => x.getField("_leaf")), "")).as("bucket_hash"))
    val root = buckets
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("bucket"), col("bucket_hash")))),
        x => x.getField("bucket_hash")), "")).as("root"))
    buckets.crossJoin(broadcast(root))
  }
}
