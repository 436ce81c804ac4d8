package graft.plans

import org.apache.spark.sql.GraftPlanBridge.rebase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The plan rebase the round loops cut their lineage with. */
class RebaseSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // row 1 is NULL in every nullable column; `id` is non-nullable
  private def typed = spark.range(3).selectExpr("id",
    "IF(id = 1, NULL, CAST(concat('9876543210987654321098765432109876543', id)" +
      " AS DECIMAL(38,0))) AS d",
    "IF(id = 1, NULL, CAST(concat('2024-01-0', id + 1, ' 03:04:05.123456')" +
      " AS TIMESTAMP_NTZ)) AS ts",
    "IF(id = 1, NULL, array(named_struct('a', id, 'b', CAST(id AS STRING))," +
      " named_struct('a', -id, 'b', CAST(NULL AS STRING)))) AS arr",
    "IF(id = 1, NULL, map(CAST(id AS STRING), id * 1.5D," +
      " 'none', CAST(NULL AS DOUBLE))) AS m")

  test("rows, schema and nullability survive; the plan is a single leaf") {
    val df = typed
    val r = rebase(df)
    assert(r.schema === df.schema)
    assert(!r.schema("id").nullable && r.schema("d").nullable)
    assert(r.schema("d").dataType.sql === "DECIMAL(38,0)")
    assert(r.schema("ts").dataType.sql === "TIMESTAMP_NTZ")
    assert(r.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    val plan = r.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty, plan)
  }

  test("fresh attribute ids: joins with itself and with its source resolve") {
    val df = typed.select(col("id"), col("arr"))
    val r = rebase(df)
    assert(r.as("l").join(r.as("r"), col("l.id") === col("r.id") + 1).count() === 2)
    assert(df.join(r, df("id") === r("id") + 1).count() === 2)
  }

  test("a rebased persisted frame reads the cache, not the upstream plan") {
    val n = 1000L
    val calls = spark.sparkContext.longAccumulator("udf calls")
    val twice = udf { (x: Long) => calls.add(1); x * 2 }
    val src = spark.range(0, n, 1, 4).select(col("id"), twice(col("id")).as("v"))
      .persist()
    try {
      assert(src.count() === n)
      assert(calls.value === n)
      val r = rebase(src)
      assert(r.count() === n)
      assert(r.agg(sum("v")).head().getLong(0) === n * (n - 1))
      assert(calls.value === n)
    } finally src.unpersist(blocking = true)
  }
}
