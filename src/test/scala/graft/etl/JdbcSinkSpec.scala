package graft.etl

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.schema.PropertySchema

/** Drives [[Pipeline.loadToSink]] end-to-end against a REAL JDBC database —
  * embedded Derby (`jdbc:derby:memory:`), the only live DB available in the
  * sandbox. This closes the reference's entire load stage
  * (scripts/load_db.py:32-47: `to_sql('properties_data', if_exists='append',
  * dtype={...VARCHAR(255)/INTEGER...})`) with a driven writer rather than a
  * parquet stand-in: create-on-first-append, dtype mapping, append
  * accumulation across batches, NULLs in mapped columns, and round-trip
  * value equality via `spark.read.jdbc`.
  *
  * Not oracle-able (DuckDB cannot read Derby) — spec-pinned per the driver
  * contract for sink semantics.
  */
class JdbcSinkSpec extends SparkSpec {

  // One in-memory Derby DB per suite; lives for the test JVM's lifetime.
  private val url = "jdbc:derby:memory:graft_jdbc;create=true"

  private def rows(links: String*): DataFrame = {
    val data = links.zipWithIndex.map { case (l, i) =>
      Row("Prodej bytu", s"Vinohradska $i, Praha", "Praha", 80 + i,
        "3+1", 5000000L + i, (5000000L + i).toInt / (80 + i), l,
        "2024_01_0" + (i + 1), s"raw_properties_$i.csv")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), PropertySchema.transformed)
  }

  test("loadToSink(jdbc): first append creates properties_data with the dtype map") {
    val df = rows("/a", "/b", "/c")
    Pipeline.loadToSink(df, url, "properties_data")

    // Assert the reference's dtype map landed (load_db.py:35-46): the mapped
    // string columns are VARCHAR(255); unmapped ints follow Spark's JDBC
    // type mapping (INTEGER / BIGINT).
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "PROPERTIES_DATA", null)
      var cols = Map.empty[String, (String, Int)]
      while (rs.next()) {
        cols += rs.getString("COLUMN_NAME").toLowerCase ->
          ((rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE")))
      }
      assert(cols.keySet == PropertySchema.transformed.fieldNames.toSet)
      for (c <- Seq("purpose", "address", "region", "design", "link",
          "dump_date", "file_name"))
        assert(cols(c) == ("VARCHAR", 255), s"column $c")
      assert(cols("size_m2")._1 == "INTEGER")
      assert(cols("price_per_m2")._1 == "INTEGER")
      assert(cols("price_czk")._1 == "BIGINT")
    } finally conn.close()
  }

  test("loadToSink(jdbc): mode=append accumulates across batches; values round-trip") {
    // self-contained: both batches land here, in a table the create test
    // never touches, so this test survives -z filtering and reordering
    Pipeline.loadToSink(rows("/a", "/b", "/c"), url, "properties_acc")
    Pipeline.loadToSink(rows("/d", "/e"), url, "properties_acc")

    val back = spark.read.jdbc(url, "properties_acc",
      new java.util.Properties())
    assert(back.count() == 5L)

    val expected = rows("/a", "/b", "/c").unionAll(rows("/d", "/e"))
    val key = (r: Row) => r.getString(7) // link
    assert(back.collect().sortBy(key).toSeq ==
      expected.collect().sortBy(key).toSeq)
    // Types survive the round trip where JDBC can represent them.
    val byName = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("price_czk") == LongType)
    assert(byName("size_m2") == IntegerType)
    assert(byName("purpose") == StringType)
  }

  test("loadToSink(jdbc): NULL in a nullable mapped column survives the sink") {
    // a NULL string too (an empty `design` cell): it must bind as VARCHAR,
    // not as the CLOB Derby rejects for a VARCHAR(255) column
    val withNull = rows("/n")
      .withColumn("price_per_m2", lit(null).cast(IntegerType))
      .withColumn("design", lit(null).cast(StringType))
    Pipeline.loadToSink(withNull, url, "properties_null")
    val back = spark.read.jdbc(url, "properties_null",
      new java.util.Properties())
    val r = back.collect().head
    assert(r.isNullAt(back.schema.fieldIndex("price_per_m2")))
    assert(r.isNullAt(back.schema.fieldIndex("design")))
    assert(r.getString(back.schema.fieldIndex("link")) == "/n")
  }
}
