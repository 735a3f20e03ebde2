package perfbench

import graft.operators.Dedup
import graft.pipeline.BlueFortyPipeline
import graft.sources.{CsvIngest, XmlShred}
import graft.streaming.{NdDoc, StreamClusters, StreamNearDup}
import graft.{ExtensionQueries, SparkEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Workloads {
  def rowsJson(columns: Seq[String], rows: Array[Row]): String =
    Json.obj(Seq(
      "columns" -> columns.map(Json.str).mkString("[", ",", "]"),
      "rows" -> rows.map(_.toSeq.map(Json.value).mkString("[", ",", "]"))
        .mkString("[", ",\n", "]")))

  /** Regular files under `dir` (Hadoop's .crc side files excluded),
    * with their sizes. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
}

/** The 22 TPC-H rows of `SparkEntry.queries`, each built and then
  * collected, in query-number order. A run measures one pass from a
  * fresh JVM, whose JIT warm-up slows its first queries; a fixed order
  * puts that cost on the same queries in every run, so a seed changes
  * only the data. */
final class Tpch22(h: Harness) extends Workload {
  import Workloads._
  private val spark = h.spark
  private val sf = s"${h.a.data}/sf"
  private val queries = SparkEntry.queries.toSeq
    .filter(_._1.startsWith("q_tpch_")).sortBy(_._1.stripPrefix("q_tpch_q").toInt)
  private val results = mutable.Map.empty[String, (Seq[String], Array[Row])]

  def setup(): Unit = require(queries.size == 22,
    s"expected the 22 q_tpch_* rows, found ${queries.size}")

  def pass(): Unit =
    queries.foreach { case (name, build) =>
      h.op(name) {
        h.span(name, "harness") {
          val df = h.span("build", "builders") { build(spark, sf) }
          val rows = h.span("exec", "spark") { df.collect() }
          h.recordPhases(df)
          results(name) = (df.columns.toSeq, rows)
        }
      }
    }

  override def facts(): Map[String, Long] =
    results.map { case (k, (_, r)) => s"rows.$k" -> r.length.toLong }.toMap

  /** One direct call per table loader the queries use. */
  override def traceExtras(): Unit =
    Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem).foreach { load =>
      h.span("tables.load", "tables") { load(spark, sf) }
    }

  def gate(dir: Path): Unit = {
    val body = Json.obj(Seq(
      "oracle_sql" -> Json.obj(queries.map { case (k, _) =>
        k -> Json.str(SparkEntry.oracleSql(k)) }),
      "results" -> Json.obj(results.toSeq.sortBy(_._1).map {
        case (k, (cols, rows)) => k -> rowsJson(cols, rows) })))
    Files.write(dir.resolve("tpch22.json"), body.getBytes("UTF-8"))
  }
}

/** The BlueForty Q1-Q8 DAG in BlueFortyMain's order: every table it
  * materializes is written and read back for the stages downstream, as
  * the main does (the main's row-count print runs after the pass). */
final class BlueFortyDag(h: Harness) extends Workload {
  import Workloads._
  private val spark = h.spark
  private val bf = s"${h.a.data}/blueforty"
  private val dir = Paths.get(h.a.work, "dag")
  private val outputs = mutable.LinkedHashMap.empty[String, DataFrame]

  def setup(): Unit = ()

  def pass(): Unit = {
    val out = dir.resolve("tables")
    def save(df: DataFrame, name: String): DataFrame = {
      val path = out.resolve(name).toString
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      outputs(name) = back
      back
    }
    var purchases, xmlRaw, invoices, poInv, supplierCase, closest,
      weather: DataFrame = null
    h.op("PURCHASES") {
      h.span("sources.csv", "sources") {
        val stage = dir.resolve("stage")
        CsvIngest.stageFiles(CsvIngest.discover(Paths.get(bf, "purchases")),
          stage)
        purchases = save(BlueFortyPipeline.loadPurchases(spark,
          s"$stage/*/*/*.csv"), "PURCHASES")
      }
    }
    h.op("SUPPLIER_INVOICES_XML_RAW") {
      h.span("sources.xml_raw", "sources") {
        xmlRaw = save(XmlShred.readRaw(spark, s"$bf/invoices/*.xml"),
          "SUPPLIER_INVOICES_XML_RAW")
      }
    }
    h.op("SUPPLIER_INVOICES") {
      h.span("sources.xml_shred", "sources") {
        invoices = save(BlueFortyPipeline.shredSupplierInvoices(xmlRaw),
          "SUPPLIER_INVOICES")
      }
    }
    h.op("PURCHASE_ORDERS_AND_INVOICES") {
      h.span("pipeline.reconcile", "pipeline") {
        poInv = save(BlueFortyPipeline.purchaseOrdersAndInvoices(
          BlueFortyPipeline.purchaseOrderTotals(purchases), invoices),
          "PURCHASE_ORDERS_AND_INVOICES")
      }
    }
    h.op("SUPPLIER_CASE") {
      h.span("sources.infer", "sources") {
        supplierCase = save(BlueFortyPipeline.loadSupplierCase(spark,
          s"$bf/supplier_case.csv"), "SUPPLIER_CASE")
      }
    }
    h.op("SUPPLIER_ZIP5") {
      h.span("pipeline.zip5", "pipeline") {
        save(BlueFortyPipeline.supplierZip5(supplierCase), "SUPPLIER_ZIP5")
      }
    }
    h.op("CLOSEST_STATIONS") {
      val gaz = h.span("sources.tsv", "sources") {
        BlueFortyPipeline.loadGazetteer(spark, s"$bf/gazetteer.tsv")
      }
      val stations = h.span("sources.parquet", "sources") {
        spark.read.parquet(s"$bf/stations.parquet")
      }
      h.span("pipeline.closest", "pipeline") {
        closest = save(BlueFortyPipeline.closestStations(supplierCase, gaz,
          stations), "CLOSEST_STATIONS")
      }
    }
    h.op("SUPPLIER_ZIP_CODE_WEATHER") {
      val timeseries = h.span("sources.parquet", "sources") {
        spark.read.parquet(s"$bf/timeseries.parquet")
      }
      h.span("pipeline.weather", "pipeline") {
        weather = save(BlueFortyPipeline.supplierZipWeather(closest,
          timeseries), "SUPPLIER_ZIP_CODE_WEATHER")
      }
    }
    h.op("PURCHASES_WITH_WEATHER") {
      h.span("pipeline.enrich", "pipeline") {
        save(BlueFortyPipeline.purchasesWithWeather(poInv, supplierCase,
          weather), "PURCHASES_WITH_WEATHER")
      }
    }
  }

  /** The main's row-count print: rows per materialized table. */
  override def facts(): Map[String, Long] = {
    val counts = outputs.map { case (k, df) => s"rows.$k" -> df.count() }.toMap
    counts ++ Map(
      "sources.rows_in" -> Seq("PURCHASES", "SUPPLIER_INVOICES",
        "SUPPLIER_CASE").map(t => counts.getOrElse(s"rows.$t", 0L)).sum,
      "pipeline.rows_out" -> counts.getOrElse("rows.PURCHASES_WITH_WEATHER", 0L))
  }

  override def leftBytes(): Long = files(dir).values.sum

  def gate(gateDir: Path): Unit =
    Files.write(gateDir.resolve("blueforty_dag.json"), Json.obj(Seq(
      "dag_dir" -> Json.str(dir.resolve("tables").toString)))
      .getBytes("UTF-8"))
}

/** A streaming near-dup day: a stream dir seeded by reference from the
  * durable corpus, posting-index and cluster-map tables, triggers of
  * `StreamNearDup.pairBatch` + `StreamClusters.foldCommitted`, index
  * and cluster compaction at mid-day, the nightly durable fold of the
  * day's pairs, and the two serves. */
final class StreamDay(h: Harness) extends Workload {
  import Workloads._
  private val spark = h.spark
  private val sf = s"${h.a.data}/sf"
  private val PostingIndex = "bench_pidx"
  private val Corpus = "bench_corpus"
  private val ClusterMap = "bench_cmap"
  private val Ppm = 800000L
  private val dir = Paths.get(h.a.work, "stream", "day").toString
  private var arrivals = Seq.empty[Dataset[NdDoc]]
  private var seeded = Map.empty[String, Long]
  private var tablesBefore = Map.empty[String, Long]
  private var served: (Array[Row], Array[Row]) = (Array.empty, Array.empty)

  private def tableFiles(): Map[String, Long] =
    files(Paths.get(h.a.work, "warehouse")).filter { case (f, _) =>
      f.contains(s"/$ClusterMap/") || f.contains(s"/${ClusterMap}_patch") }

  def setup(): Unit = {
    ExtensionQueries.writePostingIndex(spark, sf, PostingIndex)
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .write.format("parquet").saveAsTable(Corpus)
    val byTrigger = spark.read.parquet(s"${h.a.data}/stream/arrivals.parquet")
      .collect().groupBy(_.getInt(2))
    arrivals = (0 until h.a.triggers).map { t =>
      spark.createDataset(byTrigger.getOrElse(t, Array.empty[Row]).toSeq
        .map(r => NdDoc(r.getLong(0), r.getString(1))))(Encoders.product[NdDoc])
    }
    ExtensionQueries.writeClusterMap(spark, sf, ClusterMap)
    ExtensionQueries.seedStreamFromTablesByRef(spark, dir, Corpus,
      PostingIndex, Some(ClusterMap), n = 3, thresholdPpm = Ppm)
    seeded = files(Paths.get(dir))
    tablesBefore = tableFiles()
  }

  def pass(): Unit = {
    arrivals.zipWithIndex.foreach { case (batch, t) =>
      h.op("trigger") {
        h.span("trigger", "harness") {
          h.span("stream.pair", "streaming") {
            StreamNearDup.pairBatch(batch, t.toLong, dir, n = 3,
              thresholdPpm = Ppm, dfCap = Dedup.DfCap.NoCap)
          }
          h.span("stream.fold", "streaming") {
            StreamClusters.foldCommitted(spark, dir)
          }
        }
      }
      if (t == (arrivals.size - 1) / 2) h.op("compact") {
        h.span("stream.compact", "streaming") {
          StreamNearDup.compactIndex(spark, dir, 3)
          StreamClusters.compactClusters(spark, dir)
        }
      }
    }
    h.op("nightly_fold") {
      h.span("artifact.fold", "artifact") {
        ExtensionQueries.foldClusterMapDurable(spark, sf, ClusterMap,
          StreamNearDup.allPairs(spark, dir))
      }
    }
    h.op("serve") {
      val view = h.span("stream.serve", "streaming") {
        StreamClusters.clusterView(spark, dir).collect()
      }
      val durable = h.span("artifact.read", "artifact") {
        ExtensionQueries.readClusterMap(spark, ClusterMap).collect()
      }
      served = (view, durable)
    }
  }

  override def facts(): Map[String, Long] = {
    val live = files(Paths.get(dir))
    val written = live.filter { case (f, _) => !seeded.contains(f) }
    Map(
      "stream.pairs" -> StreamNearDup.allPairs(spark, dir).count(),
      "stream.files_written" -> written.size.toLong,
      "stream.bytes_written" -> written.values.sum,
      "stream.live_files" -> live.size.toLong,
      "artifact.bytes_written" -> tableFiles()
        .filter { case (f, _) => !tablesBefore.contains(f) }.values.sum,
      "rows.serve_view" -> served._1.length.toLong,
      "rows.serve_durable" -> served._2.length.toLong)
  }

  override def leftBytes(): Long =
    files(Paths.get(h.a.work, "stream")).values.sum + tableFiles().values.sum

  def gate(gateDir: Path): Unit =
    Files.write(gateDir.resolve("stream_day.json"), Json.obj(Seq(
      "view" -> rowsJson(Seq("doc_id", "cluster_id"), served._1),
      "durable" -> rowsJson(Seq("doc_id", "cluster_id"), served._2)))
      .getBytes("UTF-8"))
}

/** Workloads run back to back in one pass, as one workload. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def pass(): Unit = parts.foreach(_.pass())
  override def facts(): Map[String, Long] = parts.map(_.facts()).reduce(_ ++ _)
  override def leftBytes(): Long = parts.map(_.leftBytes()).sum
  override def traceExtras(): Unit = parts.foreach(_.traceExtras())
  def gate(dir: Path): Unit = parts.foreach(_.gate(dir))
}
