package graft

import java.nio.file.{Files, Paths}
import graft.ops.Integrity

class IntegritySpec extends SparkSpec {

  test("md5 gate: ok / corrupt / missing / unexpected classification") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-md5").toString
    Files.write(Paths.get(s"$dir/good.gz"), "hello".getBytes)
    Files.write(Paths.get(s"$dir/bad.gz"), "tampered".getBytes)
    Files.write(Paths.get(s"$dir/extra.gz"), "x".getBytes)

    val manifest = Seq(
      ("good.gz", "5d41402abc4b2a76b9719d911017c592"),  // md5("hello")
      ("bad.gz", "00000000000000000000000000000000"),
      ("gone.gz", "ffffffffffffffffffffffffffffffff"))
      .toDF("file_name", "md5_expected")

    val verified = Integrity.verify(Integrity.digests(spark, dir), manifest)
    val status = verified.collect()
      .map(r => r.getAs[String]("file_name") -> r.getAs[String]("status")).toMap
    assert(status === Map(
      "good.gz" -> "ok", "bad.gz" -> "corrupt",
      "gone.gz" -> "missing", "extra.gz" -> "unexpected"))
  }

  test("riAudit: orphans, null FKs, and childless parents counted exactly") {
    import spark.implicits._
    val parent = Seq(10L, 20L, 30L).toDF("pk")
    val child = Seq(Some(10L), Some(10L), Some(99L), None).toDF("fk")
    val r = Integrity.riAudit("rel", child, "fk", parent, "pk").collect().head
    assert(r.getAs[Long]("n_child") === 4L)
    assert(r.getAs[Long]("n_null_fk") === 1L)
    assert(r.getAs[Long]("n_orphans") === 1L)  // 99 has no parent
    assert(r.getAs[Long]("n_parents") === 3L)
    assert(r.getAs[Long]("n_childless") === 2L) // 20 and 30
    assert(!r.getAs[Boolean]("ri_holds"))
    val clean = Integrity.riAudit("rel",
      child.where($"fk" =!= 99L || $"fk".isNull), "fk", parent, "pk")
      .collect().head
    assert(clean.getAs[Boolean]("ri_holds"))
  }
}
