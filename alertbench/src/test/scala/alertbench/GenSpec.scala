package alertbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's input: the same seed must give the
  * same files, other seeds other files, and the packets must carry the
  * cases the chain's gates and kernels depend on.
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private val tmp = Files.createTempDirectory("alertbench-gen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteRecursively(tmp)
  }

  private def sha(f: File): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  /** Rows built by the generator carry no schema: read fields by position. */
  private def field[T](r: Row, schema: org.apache.spark.sql.types.StructType, name: String): T =
    r.get(schema.fieldIndex(name)).asInstanceOf[T]

  /** Structural form for equality: arrays by content, NaN equal to NaN. */
  private def deep(x: Any): Any = x match {
    case r: Row => r.toSeq.map(deep)
    case b: Array[Byte] => b.toSeq
    case f: Float => java.lang.Float.floatToIntBits(f)
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case xs: Seq[_] => xs.map(deep)
    case other => other
  }

  private def write(name: String, seed: Long): Seq[String] =
    Gen.writeBatches(spark, new File(tmp, name), seed, Seq(0 -> 60, 1 -> 150)).map(sha)

  test("the same seed gives byte-identical files") {
    assert(write("a", 7L) === write("b", 7L))
  }

  test("different seeds give different files") {
    val a = write("c", 7L)
    val b = write("d", 8L)
    assert(a.zip(b).forall { case (x, y) => x != y })
  }

  test("generated rows are a pure function of seed and index") {
    val pool = Gen.stampPool(3L)
    val a = Gen.alerts(3L, 1, 50, pool)
    val b = Gen.alerts(3L, 1, 50, Gen.stampPool(3L))
    assert(a.map(deep) === b.map(deep))
    assert(Gen.alerts(4L, 1, 50, Gen.stampPool(4L)).map(deep) !== a.map(deep))
  }

  test("class shares are exact in every 40 rows of a file") {
    for (seed <- Seq(1L, 2L); file <- Seq(1, 5); block <- Seq(0, 3)) {
      val rows = (block * 40 until block * 40 + 40).map(Gen.candidOf(file, _))
      val counts = rows.map(Gen.classOf(seed, _)).groupBy(identity).map { case (k, v) => k -> v.size }
      assert(counts === Map("sn" -> 14, "var" -> 12, "long" -> 4, "sso" -> 4, "bogus" -> 6))
      assert(rows.count(Gen.hostlessTransient(seed, _)) === 1)
    }
  }

  test("packets carry the edge cases the modules gate on") {
    val rows = Gen.alerts(5L, 1, 400, Gen.stampPool(5L))
    val histories = rows.map(r => Option(field[Seq[Row]](r, Gen.alertSchema, "prv_candidates")))
    assert(histories.exists(_.isEmpty), "null history")
    assert(histories.exists(_.exists(_.isEmpty)), "empty history")
    assert(histories.exists(_.exists(_.size == 1)), "single-epoch history")
    assert(histories.exists(_.exists(_.size >= 20)), "long history")
    val entries = histories.flatten.flatten
    val mags = entries.map(e => Option(field[java.lang.Float](e, Gen.historyType, "magpsf")))
    assert(mags.exists(_.isEmpty), "null upper limit")
    assert(mags.exists(_.exists(_.isNaN)), "NaN upper limit")
    val spellings = (entries.flatMap(e => Option(field[String](e, Gen.historyType, "isdiffpos"))) ++
      rows.map(r => field[String](field[Row](r, Gen.alertSchema, "candidate"),
        Gen.candidateType, "isdiffpos"))).toSet
    assert(spellings === Set("t", "f", "1", "0", "true", "false"))
  }

  test("cutouts are gzipped 63x63 FITS images") {
    val r = Gen.alerts(6L, 1, 5, Gen.stampPool(6L)).head
    for (c <- Seq("cutoutScience", "cutoutTemplate", "cutoutDifference")) {
      val img = graft.kernels.Fits.readGzipped(
        field[Array[Byte]](field[Row](r, Gen.alertSchema, c), Gen.cutoutType, "stampData"))
      assert(img.exists(i => i.rows == 63 && i.cols == 63), c)
    }
  }

  test("the catalogs name a share of the generated objects") {
    val candids = (0 until 2000).map(Gen.candidOf(1, _))
    val tns = Gen.tnsCatalog(spark, 9L, candids)
    val named = tns.where("name like '2024tns%'").count()
    assert(named > 150 && named < 350, s"$named TNS-named sn alerts of 700")
    val blazars = Gen.blazarCatalog(spark, 9L, candids).count()
    assert(blazars > 20 && blazars < 100, s"$blazars blazars of 600 var alerts")
  }
}
