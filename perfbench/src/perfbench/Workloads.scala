package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{Embedder, HashEmbedder}
import graft.ops.{Chat, Dedup, Ingest, Ivf, Keyword, LangId, Split, Testbed, TextAnalysis, VectorServe,
  VersionedStore}

/** One operation's outcome: `items` of work done, the latency users see,
  * the busy time it cost (latency plus any follow-up work such as store
  * maintenance), and whether its output checks passed.
  */
final case class Op(items: Long, latencyNs: Long, busyNs: Long, ok: Boolean)

/** What every workload shares: the session, its work directory, the
  * seed, the tracer, and the pluggable models — plain during timed runs,
  * wrapped in counting decorators while tracing.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer) {
  val baseEmbedder: Embedder = HashEmbedder(64)
  @volatile var traced = false
  def embedder: Embedder = if (traced) CountingEmbedder(baseEmbedder) else baseEmbedder
  def model(m: Chat.ChatModel): Chat.ChatModel = if (traced) CountingModel(m) else m
  def grader: Chat.Grader = if (traced) CountingGrader(Chat.OverlapGrader) else Chat.OverlapGrader
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A fresh directory under the work dir (removed first if present). */
  def fresh(name: String): String = {
    val p = work.resolve(name)
    Ctx.rmTree(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Documents as `(doc_id, text)`. The id column is not called `id`:
    * `Ingest.ingest` names its chunk key `id`, and a document column of
    * the same name would be shadowed in the chunks' `source` metadata.
    */
  def docsFrame(docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }
}

object Ctx {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  val Config: Ingest.StoreConfig = Ingest.StoreConfig("perfbench", "hash64", 400, 40)
}

trait Workload {
  /** Build the state the operations run against; called several times,
    * each into fresh directories, and the last build is used.
    */
  def setup(rep: Int): Unit
  /** Untimed: load check references and run a few operations on inputs
    * outside the measured stream, so JIT and caches are warm.
    */
  def warmup(): Unit
  def op(i: Int): Op
  /** The measured window ends on a multiple of this many operations, so
    * a run always measures whole blocks of a fixed operation mix.
    */
  def opBlock: Int = 1
  /** Untimed end-of-run checks, each (label, passed). */
  def finalChecks(): Seq[(String, Boolean)]
  /** Workload-specific per-layer metrics for the traced window. */
  def layers(ops: Int): Map[String, Double]
  /** Scalar facts for the run's info line (sizes, quality values). */
  def info: Map[String, Double]
}

/** Exact brute-force cosine top-k over a collected store, with the
  * engine's arithmetic (float inputs, double accumulation) and order
  * (score descending, id ascending).
  */
final class BruteForce(rows: Array[(String, String, Array[Float])]) {
  private val text = rows.iterator.map(r => r._1 -> r._2).toMap
  def size: Int = rows.length
  def textOf(id: String): String = text(id)

  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  def topK(q: Array[Float], k: Int): Seq[(String, Double)] =
    rows.iterator.map(r => (r._1, cosine(r._3, q))).toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
}

object BruteForce {
  def of(store: DataFrame): BruteForce = new BruteForce(
    store.select(col("id").cast("string"), col("text"), col("embedding")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)))
}

/** The benchmark's deterministic chat model for evaluation: the answer
  * carries the context it was grounded on, so the judge can tell whether
  * the reference chunk was retrieved.
  */
object EchoModel extends Chat.ChatModel {
  def rewrite(question: String, history: Seq[String]): String = question
  def generate(sysPrompt: String, context: String, question: String): String =
    s"[$sysPrompt] Q: $question | context: $context"
}

/** `chat`: a closed loop of one client asking a seeded question stream
  * through `Chat.answer` over a store built by `Ingest.ingest`. Each block
  * of questions ends with a testbed round over one bucket of the store.
  */
final class ChatWorkload(c: Ctx, nDocs: Int, questions: Int) extends Workload {
  private val spark = c.spark
  private val docs = new Gen.Source(c.seed).batch(nDocs)
  private var dir = ""
  private var table = ""
  private var lexIdx = ""
  private var store: DataFrame = _
  private var brute: BruteForce = _
  private val kinds = ArrayBuffer[String]()
  private val lat = ArrayBuffer[(String, Long)]()
  private val indexBuildNs = ArrayBuffer[Long]()
  private val eval = new Evaluation(c, questions)
  private val Buckets = 16

  // per block of 20: 12 similarity, 3 MMR, 3 threshold, 2 hybrid
  private val Block = Seq.fill(12)("similarity") ++ Seq.fill(3)("mmr") ++
    Seq.fill(3)("threshold") ++ Seq.fill(2)("hybrid")
  val Threshold = 0.8
  import Evaluation.TopK

  private final class Stream(seed: Long) {
    private val src = new Gen.Source(seed)
    private val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    private val asked = mutable.Map[String, ArrayBuffer[String]]()
    private var block = Seq.empty[String]
    def next(): (String, String) = {
      if (block.isEmpty) block = Gen.shuffle(Block, rnd)
      val kind = block.head
      block = block.tail
      val prev = asked.getOrElseUpdate(kind, ArrayBuffer())
      val q =
        if (prev.nonEmpty && rnd.nextDouble() < 0.2) prev(rnd.nextInt(prev.size))
        else {
          val q = src.window(docs(rnd.nextInt(docs.size)).text, 5 + rnd.nextInt(5))
          prev += q
          q
        }
      (q, kind)
    }
  }
  private val stream = new Stream(c.seed + 1)

  def setup(rep: Int): Unit = {
    dir = c.fresh(s"chat-$rep")
    c.span("ingest.call") {
      Ingest.ingest(spark, c.docsFrame(docs), "doc_id", "text", dir, Ctx.Config, c.embedder)
    }
    table = s"$dir/${Ctx.Config.tableName}"
    lexIdx = s"$dir/lexical"
    val t0 = System.nanoTime()
    c.span("keyword.index_build") {
      Keyword.buildLexicalIndexForStore(spark, table, "id", "text", lexIdx)
    }
    indexBuildNs += System.nanoTime() - t0
    store = Ingest.readStore(spark, dir, Ctx.Config).get
  }

  private def searchType(kind: String): Chat.SearchType = kind match {
    case "similarity" => Chat.SearchType.Similarity
    case "mmr"        => Chat.SearchType.Mmr(20, 0.5)
    case "threshold"  => Chat.SearchType.ScoreThreshold(Threshold)
    case "hybrid"     => Chat.SearchType.Hybrid(lexicalIndexPath = Some(lexIdx))
  }

  private def ask(q: String, kind: String): Chat.RagAnswer =
    c.span("chat.answer") {
      Chat.answer(spark, q, store, "id", "text", "embedding", c.embedder,
        model = c.model(Chat.TemplateModel), grader = c.grader, topK = TopK,
        searchType = searchType(kind),
        indexStorePath = if (kind == "hybrid") Some(table) else None)
    }

  /** Similarity and threshold answers must retrieve exactly the
    * brute-force top-k (threshold: its prefix at the relevance bound).
    */
  private def check(q: String, kind: String, a: Chat.RagAnswer): Boolean = kind match {
    case "similarity" | "threshold" =>
      val top = brute.topK(c.baseEmbedder.embed(q), TopK)
      val want = if (kind == "similarity") top else top.filter { case (_, s) => (s + 1.0) / 2.0 >= Threshold }
      a.retrievedIds == want.map(_._1)
    case _ => a.retrievedIds.nonEmpty
  }

  private var warmOk = true

  def warmup(): Unit = {
    brute = BruteForce.of(store)
    val w = new Stream(c.seed + 2)
    warmOk = (0 until Block.size).map(i => step(w, i, Buckets - 1 - i / Block.size)).forall(_._1.ok)
  }

  override def opBlock: Int = Block.size

  /** One question; the last of a block also runs the testbed round on
    * store bucket `bucket`, which counts into busy time and items but not
    * into the question's latency.
    */
  private def step(s: Stream, i: Int, bucket: Int): (Op, String) = {
    val (q, kind) = s.next()
    c.tracer.request = i
    val t0 = System.nanoTime()
    val a = ask(q, kind)
    val dt = System.nanoTime() - t0
    val ok = check(q, kind, a)
    if ((i + 1) % Block.size != 0) (Op(1, dt, dt, ok), kind)
    else {
      val kb = store.filter(pmod(xxhash64(col("id")), lit(Buckets)) === lit(bucket))
      val t1 = System.nanoTime()
      val (qa, overall, byTopic) = eval.round(kb, store)
      val de = System.nanoTime() - t1
      val n = overall.headOption.map(_.getLong(0)).getOrElse(0L)
      (Op(1 + n, dt, dt + de, ok && eval.check(qa, overall, byTopic, brute)), kind)
    }
  }

  def op(i: Int): Op = {
    val (o, kind) = step(stream, i, (i / Block.size) % (Buckets - 1))
    kinds += kind
    lat += ((kind, o.latencyNs))
    o
  }

  def finalChecks(): Seq[(String, Boolean)] = Seq(
    "warm-up block correct" -> warmOk,
    "evaluation judged questions" -> (eval.judgedTotal > 0))

  def layers(ops: Int): Map[String, Double] = {
    val hybrid = c.tracer.all.filter(s => s.name == "chat.answer" && kinds.lift(s.request.toInt).contains("hybrid"))
    Map(
      "chat.answer_self_ms" -> c.tracer.selfMs("chat.answer") / ops,
      "chat.model_calls" -> Counters.get("chat.model.calls").toDouble / ops,
      "chat.grader_calls" -> Counters.get("chat.grader.calls").toDouble / ops,
      "keyword.hybrid_ms" -> (if (hybrid.isEmpty) 0.0 else hybrid.map(s => (s.end - s.start) / 1e6).sum / hybrid.size),
      "keyword.index_build_ms" -> Stats.median(indexBuildNs.map(_ / 1e6).toSeq),
      "testbed.generate_ms" -> c.tracer.totalMs("testbed.generate") / ops,
      "testbed.construct_ms" -> c.tracer.totalMs("testbed.construct") / ops,
      "testbed.action_ms" -> c.tracer.totalMs("testbed.action") / ops,
      "testbed.correctness" -> eval.correctness)
  }

  override def info: Map[String, Double] = {
    val byKind = lat.groupBy(_._1).map { case (k, v) => s"p50_ms.$k" -> Stats.median(v.map(_._2 / 1e6).toSeq) }
    byKind ++ Map("docs" -> nDocs.toDouble, "chunks" -> brute.size.toDouble,
      "eval_questions" -> eval.judgedTotal.toDouble, "eval_correctness" -> eval.correctness)
  }
}

/** The testbed round: generate a Q&A set from `kb` and answer and judge
  * all of it against `store` with `Testbed.evaluateRag`, then collect the
  * overall and per-topic correctness. Judging is retrieval-sensitive: the
  * benchmark's [[EchoModel]] answers with its context, and an answer is
  * correct iff it contains the reference chunk the question came from.
  */
final class Evaluation(c: Ctx, questions: Int) {
  import Evaluation._
  private var judged = 0L
  private var correct = 0L

  private val judge: (Column, Column) => Column = (answer, reference) =>
    coalesce(answer.contains(reference), lit(false))

  /** Timed part: returns the test set and the collected overall and
    * per-topic rows.
    */
  def round(kb: DataFrame, store: DataFrame): (DataFrame, Array[Row], Array[Row]) = {
    val withTopic = kb.withColumn("topic",
      substring_index(element_at(col("metadata"), lit("source")), "-", 1))
    val qa = c.span("testbed.generate")(Testbed.generateTestset(withTopic, "text", questions, Some("topic")))
    val report = c.span("testbed.construct") {
      Testbed.evaluateRag(qa, store, "id", "text", "embedding", c.embedder,
        model = c.model(EchoModel), grader = c.grader, topK = TopK, judge = judge)
    }
    c.span("testbed.action")((qa, Testbed.overall(report).collect(), Testbed.byTopic(report).collect()))
  }

  /** Untimed: recompute every judgement from the brute-force top-k over
    * `brute` and compare the counts overall and per topic.
    */
  def check(qa: DataFrame, overall: Array[Row], byTopic: Array[Row], brute: BruteForce): Boolean = {
    val per = qa.select("question", "reference_answer", "topic").collect().map { r =>
      val q = r.getString(0)
      val ctx = brute.topK(c.baseEmbedder.embed(q), TopK).map(h => brute.textOf(h._1)).mkString("\n\n")
      val rel = Chat.OverlapGrader.relevant(q, ctx)
      (r.getString(2), EchoModel.generate(SysPrompt, if (rel) ctx else "", q).contains(r.getString(1)))
    }.toSeq
    def counts(rs: Seq[(String, Boolean)]) = (rs.size.toLong, rs.count(_._2).toLong)
    def matches(row: Row, want: (Long, Long)): Boolean =
      row.getLong(row.fieldIndex("n")) == want._1 &&
        math.round(row.getDouble(row.fieldIndex("correctness")) * want._1) == want._2
    val (n, ok) = counts(per)
    judged += n
    correct += ok
    val topics = per.groupBy(_._1).map { case (t, v) => t -> counts(v) }
    n > 0 && overall.length == 1 && matches(overall.head, (n, ok)) &&
      byTopic.length == topics.size &&
      byTopic.forall(r => topics.get(r.getString(r.fieldIndex("topic"))).exists(matches(r, _)))
  }

  def judgedTotal: Long = judged
  def correctness: Double = if (judged == 0) 0.0 else correct.toDouble / judged
}

object Evaluation {
  val TopK = 4
  val SysPrompt = "you are helpful"
}

/** `ingest`: the seeded corpus arrives in batches into an IVF-indexed
  * store. After each batch one new chunk must be searchable by its own
  * vector; then the store is maintained as the layout advisory says.
  */
final class IngestWorkload(c: Ctx, firstBatch: Int, batch: Int) extends Workload {
  private val spark = c.spark
  private var src: Gen.Source = _
  private val sent = ArrayBuffer[Gen.Doc]()
  private var last = Seq.empty[Gen.Doc]
  private var dir = ""
  private var table = ""
  private val m = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var segMax = 0
  private var warmOk = true

  def setup(rep: Int): Unit = {
    src = new Gen.Source(c.seed)
    sent.clear()
    dir = c.fresh(s"ingest-$rep")
    table = s"$dir/${Ctx.Config.tableName}"
    val first = src.batch(firstBatch)
    sent ++= first
    last = first
    c.span("ingest.call") {
      Ingest.ingest(spark, c.docsFrame(first), "doc_id", "text", dir, Ctx.Config, c.embedder)
    }
    c.span("ivf.index")(Ivf.indexStore(spark, table, "id", "embedding"))
  }

  // batch latency keeps falling for the first few batches as the JIT
  // catches up; after four untimed batches it still fell by about a tenth
  // over the next four, after six it is near its plateau
  def warmup(): Unit = warmOk = (-6 to -1).map(op).forall(_.ok)

  private def version(): Long = VersionedStore.currentState(spark, table).map(_.version).getOrElse(0L)

  def op(i: Int): Op = {
    // a short probe document is one chunk whose id and vector are known
    val probe = src.original(25)
    val fresh = src.batch(batch - 1) :+ probe
    // re-send a fifth of a batch: the previous batch's originals at evenly
    // spaced length ranks, so every batch re-sends the same amount of text
    val prev = last.filter(_.kind == 'o').sortBy(_.text.length)
    val resend = (0 until batch / 5).map(k => prev(k * prev.size / (batch / 5)))
    sent ++= fresh
    last = fresh
    val df = c.docsFrame(fresh ++ resend)
    val probeId = Ctx.md5Hex(probe.text)
    val probeVec = c.baseEmbedder.embed(probe.text)
    val traced = c.traced
    val v0 = if (traced) version() else 0L
    val b0 = if (traced) Ctx.treeBytes(table) else 0L
    c.tracer.request = i
    val t0 = System.nanoTime()
    val res = c.span("ingest.call")(Ingest.ingest(spark, df, "doc_id", "text", dir, Ctx.Config, c.embedder))
    val served = c.span("serve.open")(VectorServe.open(spark, table))
    val hits = c.span("serve.search")(served.search("id", "embedding", probeVec, 10).collect())
    val t1 = System.nanoTime()
    // the advisory only reads, so the bytes after ingest are the bytes
    // compaction starts from
    val b1 = if (traced) Ctx.treeBytes(table) else 0L
    if (traced) {
      m("store.bytes_written") += b1 - b0
      segMax = math.max(segMax, VersionedStore.liveSegments(spark, table).size)
    }
    val t2 = System.nanoTime()
    // the traced run's file walk after compaction is not maintenance work
    var walkNs = 0L
    val advice = c.span("store.advisory")(Ingest.layoutAdvisory(spark, table))
    if (advice.exists(_.compactionAdvised)) {
      c.span("store.compact")(Ingest.compactStore(spark, dir, Ctx.Config))
      if (traced) {
        val w0 = System.nanoTime()
        m("store.bytes_rewritten") += Ctx.treeBytes(table) - b1
        m("store.compactions") += 1
        walkNs = System.nanoTime() - w0
      }
      c.span("store.vacuum")(Ingest.vacuumStore(spark, dir, Ctx.Config, graceMs = 0L))
    }
    val t3 = System.nanoTime() - walkNs
    if (traced) {
      m("store.commits") += version() - v0
      m("ingest.chunks_in") += res.chunksIn
      m("ingest.appended") += res.appended
    }
    Op(res.appended, t1 - t0, (t1 - t0) + (t3 - t2), hits.exists(_.getString(0) == probeId))
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val store = Ingest.readStore(spark, dir, Ctx.Config).get
    val r = store.agg(count(lit(1)), countDistinct(col("id")), sum(length(col("text")))).head()
    val expected = sent.iterator.flatMap(d => Split.recursive(d.text, Ctx.Config.chunkSize,
      Ctx.Config.chunkOverlap)).map(ch => Ctx.md5Hex(ch.text)).toSet.size.toLong
    val rows = r.getLong(0)
    // unique chunk text plus 4-byte floats of the embedding, against
    // every byte left under the table after maintenance
    val logical = r.getLong(2).toDouble + rows * c.baseEmbedder.dim * 4.0
    m("store.storage_amp") = Ctx.treeBytes(table) / logical
    m("store.rows") = rows.toDouble
    Seq(
      "warm-up probes found" -> warmOk,
      "row count equals distinct content ids" -> (rows == expected),
      "no duplicate id" -> (r.getLong(1) == rows))
  }

  def layers(ops: Int): Map[String, Double] = {
    val in = m("ingest.chunks_in")
    Map(
      "ingest.call_ms" -> c.tracer.totalMs("ingest.call") / ops,
      "ingest.chunks_in" -> in / ops,
      "ingest.appended" -> m("ingest.appended") / ops,
      "ingest.useful_ratio" -> (if (in == 0) 0.0 else m("ingest.appended") / in),
      "store.commits" -> m("store.commits") / ops,
      "store.live_segments_max" -> segMax.toDouble,
      "store.compactions" -> m("store.compactions") / ops,
      "store.compact_ms" -> c.tracer.totalMs("store.compact") / ops,
      "store.bytes_written" -> m("store.bytes_written") / ops,
      "store.bytes_rewritten" -> m("store.bytes_rewritten") / ops,
      "store.storage_amp" -> m("store.storage_amp"),
      "serve.open_ms" -> c.tracer.totalMs("serve.open") / ops,
      "serve.search_ms" -> c.tracer.totalMs("serve.search") / ops)
  }

  override def info: Map[String, Double] = Map("first_batch_docs" -> firstBatch.toDouble,
    "batch_docs" -> batch.toDouble, "docs_sent" -> sent.size.toDouble,
    "store_rows" -> m("store.rows"), "storage_amp" -> m("store.storage_amp"))
}

/** `curate`: one pass per operation over the seeded corpus — MinHash
  * near-duplicate pairs, connected-component survivors, language
  * identification and Gopher quality rules, each written to a `noop` sink.
  */
final class CurateWorkload(c: Ctx, nDocs: Int) extends Workload {
  private val spark = c.spark
  private val docs = new Gen.Source(c.seed).batch(nDocs)
  private var corpusPath = ""
  private var profiles: Map[String, Map[String, Int]] = Map.empty
  private val Threshold = 0.7
  private var pairs = 0L
  private var precision = 0.0
  private var last: (DataFrame, DataFrame) = _

  def setup(rep: Int): Unit = {
    val dir = c.fresh(s"curate-$rep")
    corpusPath = s"$dir/corpus"
    c.docsFrame(docs).write.parquet(corpusPath)
    import spark.implicits._
    val labeled = new Gen.Source(c.seed + 7).labeled(40, 30).toDF("lang", "text")
    profiles = c.span("langid.profile")(LangId.collectProfiles(LangId.trainProfiles(labeled, "lang", "text")))
  }

  private def pass(): (DataFrame, DataFrame) = {
    val df = spark.read.parquet(corpusPath)
    val p = c.span("dedup.pairs")(Dedup.minhashNearDupPairs(df, "doc_id", "text", Threshold))
    val surv = c.span("dedup.survivors")(Dedup.nearDupSurvivors(df, "doc_id", p))
    c.span("langid") {
      LangId.classifyMapSideTop2(surv, "doc_id", "text", profiles).write.format("noop").mode("overwrite").save()
    }
    c.span("quality") {
      TextAnalysis.gopherRules(surv, "doc_id", "text").write.format("noop").mode("overwrite").save()
    }
    (p, surv)
  }

  // the first pass after one warm-up pass was still a fifth slower than
  // the passes after it
  def warmup(): Unit = (1 to 2).foreach(_ => pass())

  def op(i: Int): Op = {
    c.tracer.request = i
    val t0 = System.nanoTime()
    last = pass()
    val dt = System.nanoTime() - t0
    Op(nDocs.toLong, dt, dt, ok = true)
  }

  /** Checks the last measured pass's pairs and survivors. */
  def finalChecks(): Seq[(String, Boolean)] = {
    val (p, surv) = last
    val got = p.select(col("id_a"), col("id_b")).collect().map(r => (r.getString(0), r.getString(1)))
    val kept = surv.select(col("doc_id"), col("text")).collect().map(r => (r.getString(0), r.getString(1)))
    val byId = docs.map(d => d.id -> d).toMap
    pairs = got.length.toLong
    val injected = got.count { case (a, b) => byId(a).group == byId(b).group }
    precision = if (got.isEmpty) 0.0 else injected.toDouble / got.length
    val keptIds = kept.map(_._1).toSet
    Seq(
      "every exact copy removed" -> docs.filter(_.kind == 'e').forall(d => !keptIds.contains(d.id)),
      "survivors are input rows" -> kept.forall { case (id, t) => byId.get(id).exists(_.text == t) },
      "survivor ids distinct" -> (keptIds.size == kept.length),
      "some near pairs found" -> (injected > 0))
  }

  def layers(ops: Int): Map[String, Double] = Map(
    "dedup.pairs_ms" -> c.tracer.totalMs("dedup.pairs") / ops,
    "dedup.pairs" -> pairs.toDouble,
    "dedup.pair_precision" -> precision,
    "dedup.survivors_ms" -> c.tracer.totalMs("dedup.survivors") / ops,
    "langid.ms" -> c.tracer.totalMs("langid") / ops,
    "quality.ms" -> c.tracer.totalMs("quality") / ops)

  override def info: Map[String, Double] = Map("docs" -> nDocs.toDouble,
    "exact_copies" -> docs.count(_.kind == 'e').toDouble,
    "near_copies" -> docs.count(_.kind == 'n').toDouble,
    "pairs" -> pairs.toDouble, "pair_precision" -> precision)
}
