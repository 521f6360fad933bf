package graft

import org.apache.spark.sql.types._
import graft.tables.Tables

/** The declared fixture catalog ([[graft.tables.Tables.schemas]]) must
  * equal what the parquet footers say, and reading through it must not
  * run the footer-inference job a bare `spark.read.parquet` runs.
  */
class TablesSpec extends SparkSpec {

  private val testdata = new java.io.File(SparkSpec.testdata)
  private lazy val sfDirs: Seq[String] =
    Option(testdata.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted

  /** `t` with every field, array element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  test("footer contract: every fixture's inferred schema is the declared one") {
    assert(sfDirs.size >= 3, s"expected sf0.001, sf0.01 and sf0.1, got $sfDirs")
    assert(Tables.names.toSet === Tables.schemas.keySet)
    assert(Tables.names.size === 10)
    for (dir <- sfDirs; name <- Tables.names) {
      val footer = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(nullable(footer) === nullable(Tables.schemas(name)),
        s"$dir/$name: footer $footer vs declared ${Tables.schemas(name)}")
    }
    sfDirs.foreach(dir =>
      assert(Tables.events(spark, dir).schema("ts").dataType === LongType, dir))
  }

  test("declared-schema reads run no Spark job; unknown names fail fast") {
    val dir = sfDirs.head
    assert(jobsStartedBy {
      Tables.names.foreach(n => Tables.load(spark, dir, n))
      Tables.registerAll(spark, dir)
    } === 0)
    intercept[IllegalArgumentException](Tables.load(spark, dir, "no_such_table"))
  }
}
