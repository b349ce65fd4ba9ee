package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 1000).select(
    col("id"), (col("id") % 7).as("k"), (col("id") * 0.5).as("x"),
    when(col("id") % 10 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"))

  test("row order and partitioning do not change the digest") {
    val d = Digest.of(frame)
    assert(d.rows == 1000)
    assert(Digest.of(frame.orderBy(col("x").desc)) == d)
    assert(Digest.of(frame.repartition(7, col("k"))) == d)
    assert(Digest.of(frame.coalesce(1)) == d)
  }

  test("a changed value, a dropped row or a duplicated row changes it") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 5, 99.0).otherwise(col("x")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 5)) != d)
    val dup = Digest.of(frame.union(frame.filter(col("id") === 5)))
    assert(dup != d && dup.rows == 1001)
  }

  test("an empty result, map columns and duplicate column names are digestible") {
    assert(Digest.of(frame.filter(lit(false))) == Digest.Result(0, "0:0"))
    val m = frame.select(col("id"), map(col("k"), col("s")).as("m"), col("id"))
    val d = Digest.of(m)
    assert(d.rows == 1000 && Digest.of(m.orderBy(col("k"))) == d)
  }
}
