package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{Dedup, Learn, Similarity}
import graft.pipelines.{Gmaps, Medallion, ReferenceOds, ReferenceWarehouse}
import graft.sources.VersionedState
import graft.streaming.Streams

/** The reference's daily job: a full refresh of both warehouses into a
  * fresh lake root, then the read queries in a seed-chosen order. It
  * never touches Learn, Similarity or VersionedState. */
final class WarehouseRefresh(conf: Conf) extends Workload {
  private val reads = Seq("j4_mart_flagship", "a1_pricing_summary",
    "w3_window_topk", "t2_sessionize", "ref1_tripadvisor_chain",
    "ref2_gmaps_chain")
  private var sources: Map[String, DataFrame] = _
  private val outputs = ArrayBuffer[(Op, String, () => Seq[Row])]()

  override def setup(r: Runner): Unit = {
    val s = r.spark
    val fx = conf.fixtures
    def csv(p: String) = s.read.option("header", "true").csv(s"$fx/$p")
    sources = Map(
      "tripadvisor_raw" -> ReferenceOds.withRowIds(csv("src_tripadvisor.csv")),
      "taipei_raw" -> ReferenceOds.withRowIds(csv("src_taipei.csv")),
      "gmaps_places_raw" -> s.read.schema(Gmaps.placesRawSchema)
        .json(s"$fx/places/*/*.jsonl").withColumn("__file", input_file_name()),
      "gmaps_reviews_raw" -> s.read.parquet(s"${conf.data}/gmaps_reviews.parquet"),
      "fb_posts_raw" -> csv("postsInformation_TaipeiTower_2024-05-01.csv")
        .withColumn("__file", input_file_name()),
      "weather_raw" -> csv("weatherInfoDW.csv"),
      "hashtag_ids" -> s.createDataFrame(java.util.List.of(Row("河畔夜市", "tag-id-1")),
        StructType(Seq(StructField("name", StringType), StructField("attraction_id", StringType)))))
  }

  def cycle(r: Runner): Unit = {
    val s = r.spark
    val lake = new File(r.root, "lake").getPath
    outputs.clear()
    r.op("refresh") {
      val mart = r.span("pipelines.medallion.run", countFiles = true) {
        Medallion.run(s, conf.data, s"$lake/medallion")
      }
      val refMart = r.span("pipelines.reference.run", countFiles = true) {
        ReferenceWarehouse.run(s, sources, s"$lake/reference")
      }
      val o = r.cycle.ops.last
      outputs += ((o, "medallion.mart", () => mart.collect().toSeq))
      outputs += ((o, "reference.mart", () => refMart.collect().toSeq))
    }
    val order = Rand.shuffle(reads, r.cycle.rng)
    order.foreach { q =>
      val rows = r.op("query") {
        r.span("queries.read") { SparkEntry.queries(q)(s, conf.data).collect().toSeq }
      }
      outputs += ((r.cycle.ops.last, s"query.$q", () => rows))
    }
  }

  def verify(r: Runner): Unit =
    outputs.foreach { case (op, name, rows) => r.check(op, name, rows()) }
}

/** The LLM-corpus tier: GD quality classifier (12 iterations), scoring,
  * MinHash near-dup pairs, star connected components and the corpus
  * export. Iterative, job-count-bound; writes no versioned state. */
final class CorpusSelect(conf: Conf) extends Workload {
  private val outputs = ArrayBuffer[(Op, String, () => Seq[Row])]()

  def cycle(r: Runner): Unit = {
    val s = r.spark
    val docs = graft.Tables.load(s, conf.data, "documents")
    outputs.clear()
    val (feat, bias, weights, wSchema) = r.op("train") {
      r.span("operators.learn.train") {
        val (feat, _, bias, w) = Learn.qualityClassifier(docs)
        (feat, bias, w.collect().toSeq, w.schema)
      }
    }
    outputs += ((r.cycle.ops.last, "learn.weights", () => weights))
    // the trained model as a local relation: scoring reads the weights,
    // it does not re-run the training plan
    val wDf = s.createDataFrame(java.util.List.of(weights: _*), wSchema)
    val scores = r.op("score") {
      r.span("operators.learn.score") {
        Learn.logisticScore(docs.select(col("doc_id").as("id")), feat, wDf, bias)
          .collect().toSeq
      }
    }
    outputs += ((r.cycle.ops.last, "learn.scores", () => scores))
    val (pairs, comps) = r.op("dedup") {
      val (pairs, pSchema) = r.span("operators.dedup.minhash") {
        val p = Dedup.minhashPairs(docs, col("doc_id"), col("text"))
          .select(col("id_a"), col("id_b"))
        (p.collect().toSeq, p.schema)
      }
      val pairsDf = s.createDataFrame(java.util.List.of(pairs: _*), pSchema)
      val comps = r.span("operators.dedup.cc") {
        Dedup.connectedComponentsStar(pairsDf).collect().toSeq
      }
      (pairs, comps)
    }
    outputs += ((r.cycle.ops.last, "dedup.pairs", () => pairs))
    outputs += ((r.cycle.ops.last, "dedup.components", () => comps))
    val out = new File(r.root, "export").getPath
    r.op("export") {
      r.span("operators.textops.export", countFiles = true) {
        SparkEntry.queries("e2e_llm_corpus")(s, conf.data).write.parquet(out)
      }
    }
    outputs += ((r.cycle.ops.last, "export.manifest",
      () => s.read.parquet(out).collect().toSeq))
  }

  def verify(r: Runner): Unit =
    outputs.foreach { case (op, name, rows) => r.check(op, name, rows()) }
}

/** A standing IVF-PQ index in a serving loop: streamed build with
  * incremental promotes, then search batches with every k-th call an
  * ingest, then forget, compact and vacuum. Reads and writes share the
  * versioned-state layer. */
final class VectorStore(conf: Conf) extends Workload {
  private val n = if (conf.smoke) 500L else 1000L
  private val extra = if (conf.smoke) 100L else 200L
  private val slice = if (conf.smoke) 50 else 100
  private val nlist = 16
  // calls per cycle: searches with every `writeEvery`-th call an ingest
  private val nOps = 3
  private val writeEvery = 2
  private val batch = if (conf.smoke) 8 else 32
  private val nForget = if (conf.smoke) 4 else 8
  private val m = 8; private val ksub = 16; private val k = 5
  private val minRecall = 0.94

  private var pool: DataFrame = _
  /** (query ids, result rows, live ids) per search, and the owning op. */
  private val searches = ArrayBuffer[(Op, Seq[Long], Seq[Row], Set[Long])]()
  private var forgetCheck: () => Unit = () => ()

  override def setup(r: Runner): Unit =
    pool = Similarity.hashBlobLake(r.spark, n + extra).localCheckpoint(true)

  private def ids(xs: Iterable[Long]): DataFrame = {
    val s = pool.sparkSession
    s.createDataFrame(java.util.List.of(xs.toSeq.map(x => Row(x)): _*),
      StructType(Seq(StructField("vec_id", LongType))))
  }

  private def vectors(xs: Iterable[Long]): DataFrame =
    pool.join(ids(xs), "vec_id")

  /** The vectors of `xs` as a local relation: inputs are built before
    * the timed call, so it is not charged for the benchmark's lookup. */
  private def input(xs: Iterable[Long]): DataFrame = {
    val v = vectors(xs)
    pool.sparkSession.createDataFrame(java.util.List.of(v.collect().toSeq: _*), v.schema)
  }

  def cycle(r: Runner): Unit = {
    val s = r.spark
    val rng = r.cycle.rng
    searches.clear()
    val (_, defPath, version, encPath, bundlePath, _) = r.op("build") {
      r.span("streaming.ann_build", countFiles = true) {
        Streams.streamAnnIngestPromote(s, n, nlist, m, ksub,
          splitFiles = 2, promoteEvery = 2, tag = "vs")
      }
    }
    val np = Similarity.nprobeFor(nlist)
    var live: Set[Long] = (0L until n).toSet
    val pending = Rand.shuffle((n until n + extra).toSeq, rng)
      .grouped(slice).toList.iterator
    var bid = 100L
    var index: Option[(DataFrame, DataFrame, DataFrame)] = None
    for (i <- 1 to nOps) {
      if (i % writeEvery == 0 && pending.hasNext) {
        val add = pending.next()
        val batchIn = input(add)
        r.op("ingest") {
          r.span("streaming.fold", countFiles = true) {
            Streams.annIngestFold(batchIn, bid, defPath, version, encPath, m)
          }
          r.span("operators.similarity.promote", countFiles = true) {
            Similarity.promoteIngestLedgerIncremental(s, defPath, version, encPath, bundlePath)
          }
        }
        bid += 1
        live ++= add
        index = None
      } else {
        val q = Rand.sample(live.toSeq.sorted, batch, rng)
        val qv = input(q)
        val rows = r.op("search") {
          val (cents, codebook, enc) = index.getOrElse {
            val opened = r.span("sources.state.load") {
              val (c, cb, e0) = Similarity.loadIndexCellLayout(s, bundlePath, version)
              (c, cb, Similarity.liveEncoded(e0, Similarity.annTombstones(s, bundlePath)))
            }
            index = Some(opened)
            opened
          }
          r.span("operators.similarity.search") {
            val (_, res) = Similarity.ivfpqSearchPruned(qv, "vec_id", "embedding",
              enc, cents, codebook, k, np, m,
              rerank = Similarity.rerankFor(live.size.toLong, nlist, np),
              rerankSource = Some(pool))
            val got = res.select(col("query_id"), col("neighbor_id")).collect().toSeq
            r.cycle.spans.last.results = got.length
            got
          }
        }
        searches += ((r.cycle.ops.last, q, rows, live))
      }
    }
    // forget ids: the exact nearest neighbour of seed-chosen probes, so a
    // forgotten id would surface in their results unless it is erased
    val probes = Rand.sample(live.toSeq.sorted, nForget, rng)
    val forget = Similarity.bruteTopKL2(vectors(probes), vectors(live), "vec_id", "embedding", 1)
      .select(col("neighbor_id")).distinct().collect().map(_.getLong(0)).toSet
    val qtmp = new File(r.root, "target/qtmp").getPath
    r.op("maintain") {
      r.span("operators.similarity.maintain", countFiles = true) {
        Similarity.annForget(bundlePath, ids(forget))
        Similarity.annCompact(s, bundlePath, version)
      }
      r.span("sources.state.vacuum") {
        VersionedState.vacuumRoot(s, qtmp, keep = Set(version))
      }
    }
    val maintainOp = r.cycle.ops.last
    val survivors = live -- forget
    forgetCheck = () => {
      val (c, cb, e0) = Similarity.loadIndexCellLayout(s, bundlePath, version)
      val enc = Similarity.liveEncoded(e0, Similarity.annTombstones(s, bundlePath))
      val (_, res) = Similarity.ivfpqSearchPruned(vectors(probes), "vec_id", "embedding",
        enc, c, cb, k, np, m, rerank = Similarity.rerankFor(survivors.size.toLong, nlist, np),
        rerankSource = Some(pool))
      val got = res.select(col("query_id"), col("neighbor_id")).collect().toSeq
      val surfaced = got.map(_.getLong(1)).filter(forget)
      if (surfaced.nonEmpty)
        r.fail(maintainOp, s"forgotten ids surfaced: ${surfaced.distinct.sorted.mkString(",")}")
      recall(r, maintainOp, exactTopK(probes, survivors), got)
    }
  }

  private def exactTopK(q: Seq[Long], corpus: Set[Long]): Set[(Long, Long)] =
    Similarity.bruteTopKL2(vectors(q), vectors(corpus), "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet

  private def recall(r: Runner, op: Op, exact: Set[(Long, Long)], got: Seq[Row]): Unit = {
    val hits = got.map(x => (x.getLong(0), x.getLong(1))).count(exact)
    val rec = if (exact.isEmpty) 0.0 else hits.toDouble / exact.size
    if (rec < minRecall) r.fail(op, f"recall $rec%.4f below $minRecall")
  }

  def verify(r: Runner): Unit = {
    searches.groupBy(_._4).values.foreach { ss =>
      val q = ss.flatMap(_._2).distinct.toSeq
      val exact = exactTopK(q, ss.head._4)
      ss.foreach { case (op, qs, rows, _) =>
        recall(r, op, exact.filter(x => qs.contains(x._1)), rows) }
    }
    forgetCheck()
  }
}

/** Seeded choices: the program sees only what these pick. */
object Rand {
  def shuffle[A](xs: Seq[A], rng: java.util.SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  def sample[A](xs: Seq[A], n: Int, rng: java.util.SplittableRandom): Seq[A] =
    shuffle(xs, rng).take(n)
}
