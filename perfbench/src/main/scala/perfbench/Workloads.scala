package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipelines.{AnalyticsService, ClusteringJob, EtlJob}

/** `refresh`: the write tier. Each pass lands the star schema
  * (`EtlJob.run`), labels products (`ClusteringJob.run`) into an empty
  * warehouse, then builds [[TimedArtifacts]] into an empty index store.
  * Every pass reads its own copy of the source so the program's
  * per-dataset memoizers cannot serve it. The input is fixed; the seed
  * is unused. A traced run also builds the remaining Prebuild
  * artifacts after the measured region, so every `prebuild.<name>_s`
  * is reported.
  */
object Refresh {

  /** The Prebuild artifacts inside the timed pass: the cheap standing
    * builds over the fact (Warehouse, Analytics) and the co-purchase
    * graph. All 20 do not fit the run length.
    */
  val TimedArtifacts = Seq("clustered_fact", "basket_index", "graph_co_edges")

  def run(h: Harness): Unit = {
    h.setUp(())
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val outcomes = mutable.LinkedHashMap.empty[String, String]
    var src = ""
    h.measure { pass =>
      src = copySource(h, pass)
      val wh = h.work.resolve(s"warehouse$pass")
      val store = h.work.resolve(s"store$pass")
      System.setProperty("graft.index.dir", store.toString)
      h.timed("etl", "etl", pass)(EtlJob.run(h.spark, src, wh.toString))
      h.timed("clustering", "clustering", pass)(ClusteringJob.run(h.spark, src, wh.toString))
      TimedArtifacts.foreach(a => h.forceArtifact(a, src, store, pass, outcomes))
      cycles += Map("warehouse" -> wh.toString, "store" -> store.toString,
        "outcomes" -> outcomes.toMap, "published" -> h.published(store).size)
      h.sampleHeap(forceGc = true)
    }
    h.out("cycles") = cycles.toSeq
    h.out("source") = h.data
    h.out("artifacts") = TimedArtifacts
    if (h.traced) traceLayers(h, src, cycles.last, outcomes)
  }

  private def copySource(h: Harness, pass: Int): String = {
    val dst = h.work.resolve(s"source$pass")
    Files.createDirectories(dst)
    val ls = Files.list(Paths.get(h.data))
    try ls.iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    finally ls.close()
    dst.toString
  }

  private def traceLayers(h: Harness, src: String, last: Map[String, Any],
      outcomes: mutable.Map[String, String]): Unit = {
    val wh = Paths.get(last("warehouse").toString)
    val store = Paths.get(last("store").toString)
    // the rest of Prebuild.all, into the last pass's store (per-layer only)
    System.setProperty("graft.index.dir", store.toString)
    graft.Prebuild.all.map(_._1).filterNot(TimedArtifacts.contains)
      .foreach(a => h.forceArtifact(a, src, store, -1, outcomes))
    h.recordOutcomes(outcomes)
    graft.Prebuild.all.foreach { case (a, _) =>
      h.layers(s"prebuild.${a}_s") = Stats.median(h.ops.filter(_.kind == s"prebuild.$a").map(_.ms / 1e3))
    }
    h.layers("prebuild.store_bytes") = h.bytesUnder(store).toDouble
    val clustering = h.bytesUnder(wh.resolve("product_clustering"))
    h.layers("etl.run_s") = Stats.median(h.ops.filter(_.kind == "etl").map(_.ms / 1e3))
    h.layers("etl.fact_rows") = h.spark.read.parquet(wh.resolve("FactSales").toString).count().toDouble
    h.layers("etl.bytes_written") = (h.bytesUnder(wh) - clustering).toDouble
    h.layers("clustering.run_s") = Stats.median(h.ops.filter(_.kind == "clustering").map(_.ms / 1e3))
    h.layers("clustering.bytes_written") = clustering.toDouble
  }
}

/** `serve`: the read tier of the lifecycle, in one JVM. Each pass runs
  * the query sample (one benched query per operator module, noop sink),
  * then an analyst's `AnalyticsService` calls (each `collect()`ed, as
  * the UI does), each group in the order of a script `run.py` generated
  * from the seed. One client thread, closed loop. Set-up lets
  * `Prebuild.all` serve every artifact from the fixture store, warms
  * every query, fills the service's cache over the fixture warehouse
  * and warms every method. The fixtures come from the same build.
  */
object Serve {

  val Methods = Seq("last_update", "cluster_summary", "cluster_stats", "brand_rollup",
    "cluster_pivot", "product_search")

  /** The 13 operator modules of `SparkEntry.declared`. */
  val Modules: Seq[(String, Seq[graft.Q])] = {
    import graft.operators._
    Seq("Relational" -> Relational.all, "Analytics" -> Analytics.all, "Events" -> Events.all,
      "Text" -> Text.all, "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
      "MLOps" -> MLOps.all, "Multimodal" -> Multimodal.all, "Streaming" -> Streaming.all,
      "Sources" -> Sources.all, "Warehouse" -> Warehouse.all, "Graph" -> Graph.all,
      "SqlSurface" -> SqlSurface.all)
  }

  def moduleOf(name: String): String =
    Modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
      .getOrElse(throw new IllegalStateException(s"$name is not a declared query"))

  def queries: Seq[graft.Q] = {
    val byName = graft.SparkEntry.benchQueries.map(q => q.name -> q).toMap
    Fixtures.Sample.map(n => byName.getOrElse(n, throw new IllegalStateException(s"$n is not benched")))
  }

  /** One script line. `kind` is "query" (then `arg` is the query name)
    * or an AnalyticsService method (then `arg` is the search term).
    */
  final case class Step(pass: Int, kind: String, arg: Option[String], cluster: Option[Int],
      sort: String, asc: Boolean, page: Int, check: Boolean)

  def run(h: Harness, scriptPath: String): Unit = {
    val script = readScript(scriptPath).zipWithIndex
    val byPass = script.groupBy(_._1.pass)
    val qs = queries.map(q => q.name -> q).toMap
    val store = h.fixtures.resolve("store")
    System.setProperty("graft.index.dir", store.toString)
    val wh = h.fixtures.resolve("warehouse").toString
    val outDir = h.work.resolve("mix_out")
    val outcomes = mutable.LinkedHashMap.empty[String, String]
    val reuseMs = mutable.LinkedHashMap.empty[String, Double]
    var svc: AnalyticsService = null
    // queries clear the shared cache after they run, as Bench does, so
    // the service (re)fills its cache after them, outside the timed steps
    def fillService(): Unit = {
      svc = new AnalyticsService(h.spark, wh)
      svc.fact.count()
      svc.clusters.count()
    }
    h.setUp {
      h.setupPart("prebuild_reuse") {
        graft.Prebuild.all.foreach { case (a, _) =>
          reuseMs(a) = h.forceArtifact(a, h.data, store, -1, outcomes, record = false).ms
        }
      }
      // the warm pass runs each query once on the target data and keeps
      // its output for the oracle check; the timed passes re-run the
      // same plans on the same data into the noop sink
      h.setupPart("warm_pass") {
        queries.foreach { q =>
          try q.run(h.spark, h.data).coalesce(1).write.mode("overwrite")
            .parquet(outDir.resolve(q.name).toString)
          catch { case e: Exception => System.err.println(s"[perfbench] warm ${q.name}: $e") }
          h.spark.catalog.clearCache()
        }
      }
      h.setupPart("cache_fill")(fillService())
      h.setupPart("warm_calls") {
        Methods.foreach(m => frame(svc, Step(-1, m, None, None, "part_id", asc = true, 0, check = false)).collect())
      }
    }
    h.recordOutcomes(outcomes)
    val checked = mutable.ArrayBuffer.empty[Map[String, Any]]
    h.measure { pass =>
      val (runs, calls) = byPass(pass % byPass.size).partition(_._1.kind == "query")
      runs.foreach { case (st, _) =>
        val q = qs(st.arg.get)
        h.phased(q.name, s"ops.${moduleOf(q.name)}", pass)(q.run(h.spark, h.data))(h.noop)
        h.spark.catalog.clearCache()
      }
      fillService()
      calls.foreach { case (st, i) =>
        var rows: Seq[Seq[Any]] = Nil
        h.phased(st.kind, s"dss.${st.kind}", pass)(frame(svc, st)) { df =>
          rows = df.collect().toSeq.map(_.toSeq)
        }
        if (st.check) checked += Map("step" -> i, "rows" -> rows.map(_.map(cell)))
      }
    }
    h.out("warehouse") = wh
    h.out("checked") = checked.toSeq
    h.out("sample") = queries.map(q => Map("name" -> q.name, "module" -> moduleOf(q.name),
      "oracle" -> q.oracle.getOrElse("")))
    h.out("mix_out") = outDir.toString
    h.out("source") = h.data
    if (h.traced) traceLayers(h, store, reuseMs)
  }

  private def traceLayers(h: Harness, store: Path, reuseMs: collection.Map[String, Double]): Unit = {
    graft.Prebuild.all.foreach { case (a, _) => h.layers(s"prebuild.${a}_s") = reuseMs(a) / 1e3 }
    h.layers("prebuild.reuse_s") = h.setupParts("prebuild_reuse")
    h.layers("prebuild.store_bytes") = h.bytesUnder(store).toDouble
    val passes = h.out("passes").asInstanceOf[Int].toDouble
    Modules.foreach { case (m, _) =>
      val mine = queries.map(_.name).filter(moduleOf(_) == m)
      Seq("build", "plan", "exec").foreach { p =>
        h.layers(s"ops.$m.${p}_s") = mine.map(q => Stats.median(h.phase(q, p))).sum
      }
      h.layers(s"ops.$m.tasks") = h.trace.tasksOf(s"ops.$m") / passes
    }
    val calls = h.ops.filter(o => Methods.contains(o.kind))
    Methods.foreach(k => h.layers(s"dss.${k}_ms") = Stats.median(calls.filter(_.kind == k).map(_.ms)))
    h.layers("dss.plan_ms") = Stats.median(Methods.flatMap(k => h.phase(k, "plan")).map(_ * 1e3))
    h.layers("dss.cache_fill_s") = h.setupParts("cache_fill")
    h.layers("dss.input_bytes_per_op") = h.trace.inputBytesOf("dss.") / math.max(1, calls.size)
  }

  private def frame(svc: AnalyticsService, st: Step) = st.kind match {
    case "last_update"     => svc.lastUpdate()
    case "cluster_summary" => svc.clusterSummary()
    case "cluster_stats"   => svc.clusterStats()
    case "brand_rollup"    => svc.brandRollup()
    case "cluster_pivot"   => svc.clusterPivot()
    case "product_search"  => svc.productSearch(st.arg, st.cluster, st.sort, st.asc, st.page)
  }

  /** Cells as JSON-friendly values; timestamps as epoch microseconds. */
  private def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case d: java.math.BigDecimal => d.doubleValue
    case other                 => other
  }

  /** One step per line, tab-separated: pass, kind, arg, cluster, sort,
    * asc, page, check (empty fields are absent options).
    */
  private def readScript(path: String): IndexedSeq[Step] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Step(f(0).toInt, f(1), Option(f(2)).filter(_.nonEmpty), Option(f(3)).filter(_.nonEmpty).map(_.toInt),
        f(4), f(5) == "1", f(6).toInt, f(7) == "1")
    }
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
