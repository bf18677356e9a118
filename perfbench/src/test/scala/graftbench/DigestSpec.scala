package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def digest(rows: Seq[(Long, Double, Seq[String], Map[String, Int])]): Digest.Value = {
    import spark.implicits._
    Digest.compute(rows.toDF("k", "x", "tags", "m"))
  }

  private val rows = (1L to 50L).map(i => (i, i / 7.0, Seq(s"t$i", "a"), Map("a" -> i.toInt, "b" -> 1)))

  test("row order and partitioning do not change the digest") {
    import spark.implicits._
    val a = digest(rows)
    assert(a === digest(rows.reverse))
    assert(a === Digest.compute(rows.toDF("k", "x", "tags", "m").repartition(5)))
  }

  test("summation-order noise in doubles does not change the digest") {
    assert(digest(rows) === digest(rows.map { case (k, x, t, m) => (k, x * (1 + 1e-14), t, m) }))
  }

  test("a changed value, a dropped row or a duplicated row does") {
    val a = digest(rows)
    assert(a !== digest(rows.updated(3, rows(3).copy(_2 = 1.5))))
    assert(a !== digest(rows.tail))
    assert(a !== digest(rows :+ rows.head))
  }

  test("the observed digest equals the computed one") {
    import spark.implicits._
    val df = rows.toDF("k", "x", "tags", "m")
    val (observed, obs) = Digest.observed(df)
    observed.write.format("noop").mode("overwrite").save()
    assert(Digest.of(obs.get) === Digest.compute(df))
  }
}
