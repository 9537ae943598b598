package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * `union_by_name=true` semantics (SURVEY.md §7.4 hard item 2): files
 * with different schemas union by column name — missing columns are
 * null, compatible numeric types widen — and Hive `date=`/`hour=`
 * partition dirs prune natively below the catalog layer.
 */
class SchemaEvolutionSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  test("readEvolving: union by name with missing columns and int widening") {
    import spark.implicits._
    val dir = tempDir("evolve").toString
    // file 1: (time, temperature) — no humidity; int32 sensor_id
    Seq((1L, 20.5, 1)).toDF("time", "temperature", "sensor_id")
      .withColumn("sensor_id", col("sensor_id").cast("int"))
      .write.mode("append").parquet(s"$dir/f1")
    // file 2: adds humidity; sensor_id widened to long
    Seq((2L, 21.5, 7L, 0.4)).toDF("time", "temperature", "sensor_id", "humidity")
      .write.mode("append").parquet(s"$dir/f2")
    val df = Tables.readEvolving(spark, Seq(s"$dir/f1", s"$dir/f2"))
    assert(df.schema.fieldNames.toSet ==
      Set("time", "temperature", "sensor_id", "humidity"))
    // widened to long
    assert(df.schema("sensor_id").dataType.typeName == "long")
    val rows = df.orderBy("time").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("humidity"))) // missing → null
    assert(rows(0).getLong(rows(0).fieldIndex("sensor_id")) == 1L)
    assert(rows(1).getDouble(rows(1).fieldIndex("humidity")) == 0.4)
  }

  test("hive date=/hour= partition pruning under the catalog layer") {
    import spark.implicits._
    val dir = tempDir("hive").toString
    Seq((1L, "a"), (2L, "b")).toDF("time", "v")
      .write.parquet(s"$dir/date=2023-01-01/hour=00")
    Seq((3L, "c")).toDF("time", "v")
      .write.parquet(s"$dir/date=2023-01-02/hour=05")
    val df = spark.read.parquet(dir)
      .filter(col("date") === "2023-01-02")
    // partition filter prunes at planning: only one row group read
    assert(df.collect().map(_.getAs[String]("v")).toSeq == Seq("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("2023-01-02"))
  }
}
