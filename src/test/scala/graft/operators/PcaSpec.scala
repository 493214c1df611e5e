package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Power-iteration PCA: the component must recover a planted dominant
  * direction, stay (round-12) unit-norm, produce mean-zero projections,
  * and the projection query must equal the component applied by hand. */
class PcaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[4]")
      .appName("pca-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // ReleaseCheck counts stored blocks: the context cleaner must not
      // free a leaked checkpoint's blocks before the check reads them
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ReleaseCheck.track(spark.sparkContext)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // points spread along u = (0.6, 0.8) with small orthogonal jitter:
  // the top component of the centered cloud is ±u
  private def planted = {
    val sp = spark; import sp.implicits._
    val u = (0.6f, 0.8f); val o = (-0.8f, 0.6f)
    (1 to 40).map { i =>
      val t = (i - 20.5).toFloat          // dominant spread
      val e = ((i % 7) - 3) * 0.03f       // orthogonal jitter
      (i.toLong, Array(t * u._1 + e * o._1, t * u._2 + e * o._2))
    }.toDF("vec_id", "embedding")
  }

  test("component recovers the planted direction, unit-norm") {
    val v = Pca.pcaPowerComponent(planted, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(v.keySet === Set(1, 2), s"dims must be 1-based: ${v.keySet}")
    val dot = v(1) * 0.6 + v(2) * 0.8
    assert(math.abs(dot) > 0.999, s"component ${v} vs planted (0.6,0.8)")
    val norm = math.sqrt(v(1) * v(1) + v(2) * v(2))
    assert(math.abs(norm - 1.0) < 1e-9, s"not unit norm: $norm")
  }

  test("projections are mean-zero and equal the component applied to the centered cloud") {
    val sp = spark; import sp.implicits._
    val df = planted
    val v = Pca.pcaPowerComponent(df, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val proj = Pca.pcaPowerProject(df, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(proj.size === 40)
    assert(math.abs(proj.values.sum) < 1e-3, s"projections not centered: ${proj.values.sum}")
    // recompute by hand from the raw data with the operator's contract
    // (round-12 mean, double centering, round-6 projection)
    val raw = df.as[(Long, Array[Float])].collect()
    def round12(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    val n = raw.length
    val mu = (0 until 2).map { j =>
      round12(raw.map(r => java.math.BigDecimal.valueOf(r._2(j).toDouble)
          .setScale(12, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_)).doubleValue() / n)
    }
    raw.foreach { case (id, e) =>
      val p = (0 until 2).map { j =>
        java.math.BigDecimal.valueOf((e(j).toDouble - mu(j)) * v(j + 1))
          .setScale(12, java.math.RoundingMode.HALF_UP)
      }.reduce(_.add(_)).doubleValue()
      val p6 = java.math.BigDecimal.valueOf(p)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(math.abs(proj(id) - p6) < 1e-9, s"$id: ${proj(id)} vs $p6")
    }
  }

  test("degenerate corpora fail loudly") {
    val sp = spark; import sp.implicits._
    val allEqual = Seq((1L, Array(2.0f, 3.0f)), (2L, Array(2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.pcaPowerComponent(allEqual, rounds = 1).collect()
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      allEqual.schema)
    intercept[IllegalArgumentException] {
      Pca.pcaPowerProject(empty, rounds = 1).collect()
    }
  }

  test("power iteration releases every block except the ones its result holds") {
    val sc = spark.sparkContext
    ReleaseCheck.check(sc, "pcaPowerComponent")(Pca.pcaPowerComponent(planted, rounds = 3))
    ReleaseCheck.check(sc, "pcaPowerProject")(Pca.pcaPowerProject(planted, rounds = 3))
  }
}
