package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.queries.{PipelineQueries, TextQueries}
import graft.streaming.{StreamingCorpus, StreamingIndex, StreamingLabels, StreamingLm,
  StreamingPipeline}

/** One benchmark workload: a set-up, the measured op kinds, and the
  * untimed checks. `run` returns (result rows, digest) for one op. */
trait Workload {
  def setup(): Unit
  def run(cls: String, kind: String, op: Int): (Long, String)
  def afterOp(): Unit
  def check(kinds: Seq[String], work: String): Seq[(String, Boolean, String)]
  def spark: SparkSession
  def data: String

  /** A `SparkEntry.queries` op, timed as Bench times it: build the frame,
    * then `count()`. Build and action are separate spans. */
  protected def query(kind: String): (Long, String) = {
    val df = Harness.span("queries.build")(SparkEntry.queries(kind)(spark, data))
    (Harness.span("queries.action")(df.count()), "")
  }

  /** Dump each named query's result for the DuckDB oracle compare
    * (`perfbench/oracle.py`), plus the oracle SQL texts. */
  protected def dumpQueries(kinds: Seq[String], work: String): Seq[(String, Boolean, String)] = {
    val sql = SparkEntry.oracleSql
    val res = kinds.map { k =>
      spark.sparkContext.setJobGroup(s"check:$k", k, interruptOnCancel = false)
      try {
        SparkEntry.queries(k)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/check/$k")
        (s"query:$k", true, "dumped")
      } catch { case e: Throwable => (s"query:$k", false, String.valueOf(e.getMessage)) }
      finally { spark.catalog.clearCache(); spark.sparkContext.clearJobGroup() }
    }
    Files.createDirectories(Paths.get(s"$work/check"))
    Files.write(Paths.get(s"$work/check/oracle_sql.json"),
      Json.value(kinds.filter(sql.contains).map(k => k -> sql(k)).toMap).getBytes(UTF_8))
    res
  }
}

/** The relational queries: scan/join/agg ops that hold no state. */
final class EtlScan(val spark: SparkSession, val data: String) extends Workload {
  def setup(): Unit = ()
  def run(cls: String, kind: String, op: Int): (Long, String) = query(kind)
  def afterOp(): Unit = spark.catalog.clearCache()
  def check(kinds: Seq[String], work: String): Seq[(String, Boolean, String)] =
    dumpQueries(kinds, work)
}

/** Serving over held state while maintenance waves land: the set-up
  * builds the ten held artifacts (as Bench's memo lines do) and wave 0
  * of the four stores q175 composes; ops are artifact readers ("r"),
  * maintenance waves ("w"), consistent pipeline reads ("p") and
  * compactions ("c"). */
final class ServeMaintain(val spark: SparkSession, val data: String, work: String)
    extends Workload {
  private val stores = StreamingPipeline.Stores(s"$work/stores/corpus",
    s"$work/stores/labels", s"$work/stores/index", null, s"$work/stores/lm")
  private val pipeDir = s"$work/stores/pipe"
  private var wave = -1L

  /** The ten held artifacts, built through the calls Bench's memo lines make. */
  val artifacts: Seq[(String, () => Unit)] = Seq(
    "tower" -> (() => graft.ops.TowerMemo.ivfadcShortlist(spark, data).count()),
    "edge" -> (() => graft.ops.TowerMemo.cellPairs(spark, data).count()),
    "cc" -> (() => graft.queries.parDrive(
      () => { TextQueries.dupLabels(spark, data).count(); () },
      () => { TextQueries.dupOldLabels(spark, data).count(); () })),
    "cand" -> (() => TextQueries.minhashCands(spark, data).count()),
    "graph" -> (() => TextQueries.divEdges(spark, data).count()),
    "bm25" -> (() => TextQueries.bm25Tfg(spark, data).count()),
    "bpe" -> (() => PipelineQueries.bpeFull(spark, data)._2.count()),
    "media" -> (() => TextQueries.mediaSig(spark, data).count()),
    "dsir" -> (() => PipelineQueries.dsirBase(spark, data).count()),
    "passage" -> (() => TextQueries.dupSpans(spark, data).count()))

  /** The artifacts build one after another, each by the call its Bench
    * memo line makes, while wave 0 loads the stores on a second thread
    * (the two share no state). */
  def setup(): Unit = {
    graft.queries.parDrive(
      () => {
        for ((name, build) <- artifacts) {
          spark.sparkContext.setJobGroup(s"memo:$name", name, interruptOnCancel = false)
          Harness.span(s"ops.memo.$name")(build())
        }
        spark.sparkContext.clearJobGroup()
      },
      () => {
        spark.sparkContext.setJobGroup("wave:0", "wave 0", interruptOnCancel = false)
        Harness.span("wave0") {
          applyWave(0, -1)
          StreamingPipeline.commitWave(spark, pipeDir, 0L)
        }
        // the frozen quantizers and codes, kept for the one-wave check's
        // fresh index (buildFrozen is deterministic, so a copy equals a
        // rebuild)
        for (d <- Seq("centroids", "codebooks", "codes/gen=-1"))
          copyTree(s"${stores.indexDir}/$d", s"$work/frozen/$d")
        spark.sparkContext.clearJobGroup()
      })
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
    Harness.note("memo_held_mb", spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0)
    wave = 0
  }

  private def input(w: Long, name: String): Option[DataFrame] = {
    val p = s"$work/waves/w$w/$name.parquet"
    if (Files.exists(Paths.get(p))) Some(spark.read.parquet(p)) else None
  }

  /** A streaming call as a span, with store listings around it. */
  private def call(name: String, store: String, dir: String, op: Int)(body: => Unit): Unit = {
    Harness.listing("before", op, store, dir)
    Harness.span(s"streaming.$name")(body)
    Harness.listing("after", op, store, dir)
  }

  /** Every store whose API takes the wave's direction gets its input at
    * batch id `w`; the stores are disjoint, so the calls overlap (the
    * q175 drive). Returns the input rows folded. */
  private def applyWave(w: Long, op: Int): Long = {
    var tasks = Seq.empty[() => Unit]
    def add(name: String, store: String, dir: String)(body: => Unit): Unit =
      tasks :+= Harness.carry(() => call(name, store, dir, op)(body))
    val corpusUpd = input(w, "corpus_upd"); val corpusDel = input(w, "corpus_del")
    val labelMerge = input(w, "label_merge"); val labelDel = input(w, "label_del")
    val labelUpdIds = input(w, "label_upd_ids"); val labelUpdPairs = input(w, "label_upd_pairs")
    val indexApp = input(w, "index_app"); val indexDel = input(w, "index_del")
    val lmUpd = input(w, "lm_upd")
    corpusUpd.foreach(df => add("corpus_update", "corpus", stores.corpusDir)(
      StreamingCorpus.updateBatch(stores.corpusDir)(df, w)))
    corpusDel.foreach(df => add("corpus_delete", "corpus", stores.corpusDir)(
      StreamingCorpus.deleteBatch(stores.corpusDir)(df, w)))
    labelMerge.foreach(df => add("labels_merge", "labels", stores.labelDir)(
      StreamingLabels.mergeBatch(stores.labelDir)(df, w)))
    labelDel.foreach(df => add("labels_delete", "labels", stores.labelDir)(
      StreamingLabels.deleteBatch(stores.labelDir)(df, w)))
    labelUpdIds.foreach(ids => add("labels_update", "labels", stores.labelDir)(
      StreamingLabels.updateBatch(stores.labelDir)(ids, labelUpdPairs.get, w)))
    if (w == 0) add("index_append", "index", stores.indexDir) {
      StreamingIndex.buildFrozen(spark, data, stores.indexDir)
      indexApp.foreach(df => StreamingIndex.appendBatch(stores.indexDir)(df, w))
    } else indexApp.foreach(df => add("index_append", "index", stores.indexDir)(
      StreamingIndex.appendBatch(stores.indexDir)(df, w)))
    indexDel.foreach(df => add("index_delete", "index", stores.indexDir)(
      StreamingIndex.deleteBatch(stores.indexDir)(df, w)))
    lmUpd.foreach(df => add("lm_update", "lm", stores.lmDir)(
      StreamingLm.updateBatch(stores.lmDir)(df, w)))
    graft.queries.parDrive(tasks: _*)
    Seq(corpusUpd, corpusDel, labelMerge, labelDel, labelUpdIds, labelUpdPairs, indexApp,
      indexDel, lmUpd).flatten.map(_.count()).sum
  }

  /** One consistent read at the committed horizon: corpus, labels,
    * index search and LM score, each digested. */
  private def pipelineRead(): (Long, String) = {
    val v = StreamingPipeline.current(spark, pipeDir, stores).get
    val probe = spark.read.parquet(s"$work/waves/probe.parquet")
    val parts = Seq(
      "read_corpus" -> (() => v.corpus), "read_labels" -> (() => v.labels),
      "read_search" -> (() => v.search(data)), "read_lm" -> (() => v.lmScore(probe)))
    // four disjoint stores: the parts build concurrently, as q175's readout does
    val res = new Array[(Long, String)](parts.size)
    graft.queries.parDrive(parts.zipWithIndex.map { case ((n, df), i) =>
      Harness.carry(() => res(i) = Harness.span(s"streaming.$n")(Harness.digest(df())))
    }: _*)
    (res.map(_._1).sum, s"w${v.wave}|" + res.map(_._2).mkString("|"))
  }

  /** Compacts every store; returns whether the index was due. */
  private def compact(op: Int): Boolean = {
    // StreamingIndex.maybeCompact, with its due probe and its compaction
    // timed apart
    var due = false
    call("compact_due", "index", stores.indexDir, op) {
      due = StreamingIndex.compactionDue(spark, stores.indexDir)
    }
    if (due) call("compact_index", "index", stores.indexDir, op)(
      StreamingIndex.compact(spark, stores.indexDir))
    call("compact_corpus", "corpus", stores.corpusDir, op)(
      StreamingCorpus.compactCorpus(spark, stores.corpusDir))
    call("compact_labels", "labels", stores.labelDir, op)(
      StreamingLabels.compactPairLog(spark, stores.labelDir))
    call("compact_lm", "lm", stores.lmDir, op)(StreamingLm.compactLm(spark, stores.lmDir))
    due
  }

  def run(cls: String, kind: String, op: Int): (Long, String) = cls match {
    case "r" => query(kind)
    case "p" => pipelineRead()
    case "c" => (0L, if (compact(op)) "index" else "")
    case "w" =>
      val w = wave + 1
      val rows = Harness.span("wave.write")(applyWave(w, op))
      call("commit", "pipe", pipeDir, op)(StreamingPipeline.commitWave(spark, pipeDir, w))
      wave = w
      (rows, s"w$w")
  }

  def afterOp(): Unit = spark.catalog.clearCache()

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  /** Reader dumps for the oracle, then the one-wave law: each store's
    * final state equals the net of the applied waves' inputs (written by
    * the generator as `waves/net<w>`) applied as one wave to fresh stores. */
  def check(kinds: Seq[String], work: String): Seq[(String, Boolean, String)] = {
    val readers = dumpQueries(kinds, work)
    spark.sparkContext.setJobGroup("check:waves", "one-wave law", interruptOnCancel = false)
    val net = s"$work/waves/net$wave"
    def rd(n: String) = spark.read.parquet(s"$net/$n.parquet")
    val fresh = s"$work/fresh"
    val f = StreamingPipeline.Stores(s"$fresh/corpus", s"$fresh/labels", s"$fresh/index",
      null, s"$fresh/lm")
    graft.queries.parDrive(
      () => StreamingCorpus.updateBatch(f.corpusDir)(rd("corpus_upd"), 0L),
      () => StreamingLabels.mergeBatch(f.labelDir)(rd("label_merge"), 0L),
      () => {
        for (d <- Seq("centroids", "codebooks", "codes/gen=-1"))
          copyTree(s"$work/frozen/$d", s"${f.indexDir}/$d")
        StreamingIndex.appendBatch(f.indexDir)(rd("index_app"), 0L)
        StreamingIndex.deleteBatch(f.indexDir)(rd("index_del"), 0L)
      },
      () => StreamingLm.updateBatch(f.lmDir)(rd("lm_upd"), 0L))
    def same(name: String, a: => DataFrame, b: => DataFrame) = {
      val (da, db) = (Harness.digest(a)._2, Harness.digest(b)._2)
      (s"one_wave:$name", da == db, s"$da vs $db")
    }
    def lm(dir: String) = {
      val (cb, cu, vocab) = StreamingLm.state(spark, dir)
      cb.select(lit("cb").as("t"), col("ctx"), col("w"), col("cb").as("n"))
        .unionByName(cu.select(lit("cu").as("t"), col("ctx"), lit(null).cast("string").as("w"),
          col("cu").as("n")))
        .unionByName(vocab.select(lit("v").as("t"), lit(null).cast("string").as("ctx"),
          col("w"), lit(0L).as("n")))
    }
    val laws = Seq(
      same("corpus", StreamingCorpus.liveCorpus(spark, stores.corpusDir),
        StreamingCorpus.liveCorpus(spark, f.corpusDir)),
      same("labels", StreamingLabels.labels(spark, stores.labelDir),
        StreamingLabels.labels(spark, f.labelDir)),
      same("index", StreamingIndex.liveCodes(spark, stores.indexDir),
        StreamingIndex.liveCodes(spark, f.indexDir)),
      same("lm", lm(stores.lmDir), lm(f.lmDir)))
    // measured workload property: update rows that pass the corpus gate
    val upd = (1L to wave).flatMap(w => input(w, "label_upd_ids").flatMap(_ =>
      input(w, "corpus_upd")))
    if (upd.nonEmpty) {
      val all = upd.reduce(_ unionByName _)
      Harness.note("update_gate_pass_share",
        all.filter(PipelineQueries.qualityGate(col("text"))).count().toDouble / all.count())
    }
    val sizes = Seq(stores.corpusDir, stores.labelDir, stores.indexDir, stores.lmDir)
      .map(DirStats(_).bytes).sum
    val freshSizes = Seq(f.corpusDir, f.labelDir, f.indexDir, f.lmDir)
      .map(DirStats(_).bytes).sum
    Harness.note("store_bytes", sizes)
    Harness.note("fresh_store_bytes", freshSizes)
    Harness.note("live_gens", Seq(stores.corpusDir, stores.labelDir, stores.indexDir,
      stores.lmDir).map(DirStats(_).gens).sum)
    Harness.note("waves_applied", wave)
    spark.sparkContext.clearJobGroup()
    readers ++ laws
  }
}

/** Throughput probes of the native Catalyst expressions, each through
  * its public `apply`, over the benchmark tables (traced runs only). */
object Kernels {
  def run(spark: SparkSession, data: String): Unit = {
    import graft.functions._
    val rep = spark.range(40).toDF("rep")
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("text"))
      .crossJoin(rep).cache()
    val vecs = spark.read.parquet(s"$data/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(rep).cache()
    val cents = spark.read.parquet(s"$data/embeddings.parquet")
      .filter(col("vec_id") < 16)
      .select(array_sort(collect_list(struct(col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<double>").as("cv")))).as("cents"))
    val frames = spark.read.parquet(s"$data/events.parquet")
      .select(concat(lit("{BASTATUS,"), col("user_id").cast("string"), lit(","),
        (col("event_id") % 97).cast("string"), lit(",x}")).as("frame"))
      .crossJoin(rep.filter(col("rep") < 4)).cache()
    val probes = Seq(
      ("dotfold", vecs, DotFold(col("v"), col("v"))),
      ("nearestcell", vecs.crossJoin(cents), NearestCell(col("v"), col("cents"))),
      ("polyhash", docs, PolyHash(col("text"), 1000000007L)),
      ("shinglehash3", docs, ShingleHash3(col("text"), 1000000007L)),
      ("simhash16", docs, SimHash16(col("text"))),
      ("signprojbits", vecs, SignProjBits(col("v"), 16)),
      ("statusdecode", frames, StatusDecode(col("frame"))))
    val n = Seq(docs, vecs, frames).map(_.count())
    val res = probes.map { case (name, df, e) =>
      spark.sparkContext.setJobGroup(s"kernel:$name", name, interruptOnCancel = false)
      df.select(hash(e).as("h")).agg(sum(col("h"))).collect() // warm
      val rows = df.count()
      val t0 = System.nanoTime()
      df.select(hash(e).as("h")).agg(sum(col("h"))).collect()
      name -> rows / ((System.nanoTime() - t0) / 1e9)
    }
    spark.sparkContext.clearJobGroup()
    Harness.note("kernel_rows_per_s", res.toMap)
    Harness.note("kernel_rows", n)
    Seq(docs, vecs, frames).foreach(_.unpersist())
  }
}
