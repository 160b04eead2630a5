package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Upsert

/** Upsert semantics vs the reference's Mongo verbs (SURVEY §4.3.4):
  * $set (update_metadata.py:71-77), $setOnInsert (update_reads.py:46-56),
  * $addToSet $each (update_reads.py:258-273), $pull (update_reads.py:190-193).
  */
class UpsertSpec extends SparkSpec {

  import spark.implicits._

  private def tgt: DataFrame = Seq(
    ("s1", "Alpha", 10L, Seq("f1", "f2", "", "NaN")),
    ("s2", "Beta", 20L, Seq("f3")),
    ("s3", null.asInstanceOf[String], 30L, null.asInstanceOf[Seq[String]])
  ).toDF("key", "name", "size", "files")

  private def upd: DataFrame = Seq(
    ("s2", "BetaNew", Seq("f3", "f4")),
    ("s4", "Delta", Seq("f9"))
  ).toDF("key", "name", "files")

  private def collectMap(df: DataFrame): Map[String, org.apache.spark.sql.Row] =
    df.collect().map(r => r.getAs[String]("key") -> r).toMap

  test("$set: update wins where present, target survives elsewhere, inserts appear") {
    val out = collectMap(Upsert.merge(tgt, upd, Seq("key")))
    assert(out.keySet === Set("s1", "s2", "s3", "s4"))
    assert(out("s2").getAs[String]("name") === "BetaNew")
    assert(out("s1").getAs[String]("name") === "Alpha")
    assert(out("s4").getAs[String]("name") === "Delta")
    assert(out("s4").isNullAt(out("s4").fieldIndex("size"))) // target-only col null on insert
    assert(out("s2").getAs[Long]("size") === 20L)            // target-only col preserved
  }

  test("$setOnInsert: existing rows never clobbered, inserts filled") {
    val out = collectMap(Upsert.merge(tgt, upd, Seq("key"),
      Map("name" -> Upsert.SetOnInsert, "files" -> Upsert.SetOnInsert)))
    assert(out("s2").getAs[String]("name") === "Beta")       // not clobbered
    assert(out("s4").getAs[String]("name") === "Delta")      // inserted
    // null target value counts as absent -> filled (mongo sets missing fields)
    assert(out("s2").getAs[scala.collection.Seq[String]]("files") === Seq("f3"))
  }

  test("$addToSet: dedup union of arrays") {
    val out = collectMap(Upsert.merge(tgt, upd, Seq("key"),
      Map("files" -> Upsert.AddToSet)))
    assert(out("s2").getAs[scala.collection.Seq[String]]("files") === Seq("f3", "f4"))
    assert(out("s1").getAs[scala.collection.Seq[String]]("files") === Seq("f1", "f2", "", "NaN"))
    assert(out("s4").getAs[scala.collection.Seq[String]]("files") === Seq("f9"))
  }

  test("$pull: removes ''/'NaN' entries (update_reads.py:190-193)") {
    val cleaned = tgt.withColumn("files",
      Upsert.pull(col("files"), Seq("", "NaN")))
    val out = collectMap(cleaned)
    assert(out("s1").getAs[scala.collection.Seq[String]]("files") === Seq("f1", "f2"))
    assert(out("s2").getAs[scala.collection.Seq[String]]("files") === Seq("f3"))
  }

  test("merge is idempotent: merge(merge(t,u),u) == merge(t,u)") {
    for (pol <- Seq(
        Map.empty[String, Upsert.Policy],
        Map[String, Upsert.Policy]("name" -> Upsert.SetOnInsert),
        Map[String, Upsert.Policy]("files" -> Upsert.AddToSet))) {
      val once = Upsert.merge(tgt, upd, Seq("key"), pol)
      val twice = Upsert.merge(once, upd, Seq("key"), pol)
      assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty,
        s"not idempotent for policies $pol")
    }
  }

  test("delete removes exactly the victim keys") {
    val victims = Seq(Tuple1("s1"), Tuple1("s3")).toDF("key")
    val out = Upsert.delete(tgt, victims, Seq("key"))
    assert(out.select("key").as[String].collect().sorted === Array("s2"))
  }
}
