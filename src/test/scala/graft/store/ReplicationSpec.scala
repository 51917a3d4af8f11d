package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X184 streaming merge sink: streaming upserts land exactly-once. */
class ReplicationSpec extends SparkSpec {
  import spark.implicits._

  test("streaming merge sink: replayed epoch skipped (the non-idempotent replay hazard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smerge").toString
    val root = s"$dir/t"
    Warehouse.writeSnapshot(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), root)
    val clauses = Seq(
      Warehouse.DeleteWhen(col("s.v") < 0),
      Warehouse.UpdateWhen(lit(true), Map("v" -> (col("s.v") + col("t.v")))),
      Warehouse.InsertWhen(lit(true)))
    val batch = Seq((1L, 5L), (3L, 30L), (2L, -1L)).toDF("id", "v")
    Warehouse.commitStreamMerge(batch, root, "cdc", 0L, Seq("id"), clauses)
    val after1 = Warehouse.readSnapshot(spark, root).as[(Long, Long)].collect().toSet
    assert(after1 === Set((1L, 15L), (3L, 30L)))
    // replay: WITHOUT the gate this would re-add v (1->20) and re-match 3;
    // with it the table is unchanged
    Warehouse.commitStreamMerge(batch, root, "cdc", 0L, Seq("id"), clauses)
    assert(Warehouse.readSnapshot(spark, root).as[(Long, Long)].collect().toSet === after1)
    // the next epoch applies
    Warehouse.commitStreamMerge(Seq((3L, 1L)).toDF("id", "v"), root, "cdc", 1L,
      Seq("id"), clauses)
    assert(Warehouse.readSnapshot(spark, root).as[(Long, Long)].collect().toSet ===
      Set((1L, 15L), (3L, 31L)))
  }
}
