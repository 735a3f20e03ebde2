package graft.pipeline

import graft.{Scratch, SparkTestBase}

import java.nio.file.{Files, Paths}

/** The runnable pipeline main, end to end on the checked-in fixtures:
  * every Q1–Q8 table lands, the row counts BlueFortyPipelineSpec pins
  * hold on the written tables, and the suite's shared session survives
  * (the main runs on it and must neither stop nor re-configure it). */
class BlueFortyMainSpec extends SparkTestBase {

  private val tables = Seq("PURCHASES", "SUPPLIER_INVOICES_XML_RAW",
    "SUPPLIER_INVOICES", "PURCHASE_ORDERS_AND_INVOICES", "SUPPLIER_CASE",
    "SUPPLIER_ZIP5", "CLOSEST_STATIONS", "SUPPLIER_ZIP_CODE_WEATHER",
    "PURCHASES_WITH_WEATHER")

  test("main writes all 9 tables with the pinned row counts and leaves " +
      "the shared session usable") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val out = Paths.get(Scratch.dir("blueforty_main_out"))
    BlueFortyMain.main(Array("src/test/resources/blueforty", out.toString))

    tables.foreach { t =>
      assert(Files.exists(out.resolve(t).resolve("_SUCCESS")), s"$t not written")
    }
    assert(out.toFile.list().length === tables.size)
    def rows(t: String) = spark.read.parquet(out.resolve(t).toString).count()
    assert(rows("PURCHASES") === 8)
    assert(rows("SUPPLIER_INVOICES") === 4)
    assert(rows("PURCHASE_ORDERS_AND_INVOICES") === 3)

    assert(!spark.sparkContext.isStopped)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partitions)
    assert(spark.range(5).count() === 5)
  }
}
