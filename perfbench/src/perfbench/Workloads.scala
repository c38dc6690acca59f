package perfbench

import graft.api.{CurationPipeline, SoccerPipeline}
import graft.models.PressingIntensity
import graft.models.formations.Efpi
import graft.tracking.Cols
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.SplittableRandom

/** One output table of an op: where it was written, which span wrote it,
  * and the row count the generator's record implies. */
final case class Output(key: String, span: String, path: String, expectedRows: Long)

final case class OpResult(inputRows: Long, outputs: Seq[Output], dir: File)

/** A workload: seeded inputs, a set-up that may be repeated, and ops. */
trait Workload {
  /** Generates the inputs; returns their checksum. */
  def setup(): String
  /** Builds any at-rest table the ops read (traced as op -1); returns
    * the tables to check. */
  def atRest(): Seq[Output] = Nil
  /** Input checksum the generator gives for another seed (must differ). */
  def otherSeedChecksum(): String
  /** The stated input properties of the current inputs. */
  def properties: Seq[(String, Any)]
  /** Untimed ops run before timing starts (JIT, caches, lazy set-up). */
  def warmups: Int
  /** The timed phase ends on a multiple of this many ops, so every run
    * times the same mix of op kinds. */
  def cycle: Int = 1
  /** Op `i`; `traced` selects the traced form where it differs. */
  def op(i: Int, traced: Boolean): OpResult
  /** Op wall time comparable between traced and untraced ops. */
  def comparableWallS(op: Int, tr: Tracer): Option[Double] =
    tr.spans.find(s => s.op == op && s.name == "op").map(_.wallS)
}

final case class Env(spark: SparkSession, work: File, seed: Long, tracer: Tracer, cores: Int) {
  def dir(name: String): File = new File(work, name)
  def parquet(df: DataFrame, path: File): Unit =
    df.write.mode("overwrite").parquet(path.getPath)
}

object Workloads {
  /** Frames per period: 2 games × 2 periods × 1,000 frames × 23 objects
    * ≈ 91k long rows (≈ 1/34 of a full match). */
  val MatchFramesPerPeriod = 1000
  val WarmupFramesPerPeriod = 100
  /** Window requests read an at-rest table of one game (2 periods of
    * 1,000 frames); each request covers 10 s = 251 frames ≈ 5.7k rows. */
  val WindowFramesPerPeriod = 1000
  val WindowFrames = 251
  val DistinctRequests = 9
  val RequestKinds: Seq[String] = Seq("pi", "graphs", "efpi")
  val CorpusDocs = 3000
  val WarmupDocs = 200

  def apply(name: String, env: Env): Workload = name match {
    case "match_batch" => new MatchBatch(env)
    case "window_requests" => new WindowRequests(env)
    case "corpus_curation" => new CorpusCuration(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def trackingProperties(feed: Soccer.Feed): Seq[(String, Any)] = {
    val nFrames = feed.frames.size
    Seq(
      "games" -> feed.games,
      "periods" -> Soccer.Periods.size,
      "rows" -> feed.rows,
      "frames" -> nFrames,
      "objects_per_frame" -> 23,
      "absent_player_rows" -> feed.absentPlayerRows,
      "absent_player_row_share" -> feed.absentPlayerRows.toDouble / (nFrames * 22L),
      "frames_with_possession" -> feed.possessed.size,
      "frames_with_possession_share" -> feed.possessed.size.toDouble / nFrames)
  }

  /** `SoccerPipeline.load` plus the goalkeeper roles a provider's roster
    * metadata supplies, so EFPI assigns 10 outfield players per team. */
  def prepare(env: Env, feedDir: File): DataFrame =
    SoccerPipeline.load(env.spark, new File(feedDir, "*.csv").getPath, Soccer.PlayerIds)
      .withColumn(Cols.PositionName,
        when(col(Cols.ObjectId).isin(Soccer.Goalkeepers: _*), lit("GK")))
}

/** Bulk journey: load → at-rest prepared table → PI, EFPI (possession
  * segments) and graph tensors, each written to parquet. The warm-up op
  * runs the same journey on a short feed from the same seed: it pays the
  * per-process code generation and class loading without doubling the
  * run's length. */
final class MatchBatch(env: Env) extends Workload {
  import env._
  private var feed: Soccer.Feed = _
  private var warmFeed: Soccer.Feed = _

  def setup(): String = {
    feed = Soccer.generate(seed, 2, Workloads.MatchFramesPerPeriod, dir("feed"))
    warmFeed = Soccer.generate(seed, 2, Workloads.WarmupFramesPerPeriod, dir("warmup-feed"))
    feed.checksum
  }
  def otherSeedChecksum(): String =
    Soccer.generate(seed + 1, 2, Workloads.MatchFramesPerPeriod, dir("feed-other")).checksum
  def properties: Seq[(String, Any)] = Workloads.trackingProperties(feed)
  val warmups = 1

  def op(i: Int, traced: Boolean): OpResult = {
    val (f, key) = if (i < warmups) (warmFeed, "warmup.") else (feed, "")
    val out = dir(s"op$i")
    def path(name: String) = new File(out, name).getPath
    val tr = tracer
    tr.span("op", i) {
      tr.span("tracking.prepare", i) {
        parquet(Workloads.prepare(env, f.dir), new File(path("prepared")))
      }
      val rest = spark.read.parquet(path("prepared"))
      tr.span("models.pi", i) {
        parquet(SoccerPipeline.pressingIntensity(rest), new File(path("pi")))
      }
      tr.span("models.efpi", i) {
        parquet(SoccerPipeline.formations(spark, rest, Efpi.Config(every = "possession")),
          new File(path("efpi")))
      }
      tr.span("graphs.frames", i) {
        SoccerPipeline.sink(SoccerPipeline.graphs(rest), path("graphs"))
      }
    }
    val frames = f.possessed.size.toLong
    OpResult(f.rows, Seq(
      Output(key + "prepared", "tracking.prepare", path("prepared"), f.preparedRows),
      Output(key + "pi", "models.pi", path("pi"), frames),
      Output(key + "efpi", "models.efpi", path("efpi"), f.efpiPossessionRows),
      Output(key + "graphs", "graphs.frames", path("graphs"), frames)), out)
  }
}

/** Closed loop of analyst requests on 10-s windows of an at-rest
  * prepared table: PI, graph tensors and per-frame EFPI in turn. */
final class WindowRequests(env: Env) extends Workload {
  import env._
  private var feed: Soccer.Feed = _
  private val rest = dir("rest")

  /** (kind, period, start micros); the end is start + 10 s. */
  private val requests: IndexedSeq[(String, Int, Long)] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val kinds = Workloads.RequestKinds
    (0 until Workloads.DistinctRequests).map { r =>
      val startFrame = rnd.nextInt(Workloads.WindowFramesPerPeriod - Workloads.WindowFrames + 1)
      (kinds(r % 3), 1 + rnd.nextInt(2), startFrame * Soccer.FrameMicros)
    }
  }

  def setup(): String = {
    feed = Soccer.generate(seed, 1, Workloads.WindowFramesPerPeriod, dir("feed"))
    feed.checksum
  }
  override def atRest(): Seq[Output] = {
    tracer.span("tracking.prepare", -1) {
      parquet(Workloads.prepare(env, feed.dir), rest)
    }
    Seq(Output("rest", "tracking.prepare", rest.getPath, feed.preparedRows))
  }
  def otherSeedChecksum(): String =
    Soccer.generate(seed + 1, 1, Workloads.WindowFramesPerPeriod, dir("feed-other")).checksum
  def properties: Seq[(String, Any)] = Workloads.trackingProperties(feed) ++ Seq(
    "prepared_rows" -> feed.preparedRows,
    "distinct_requests" -> requests.size,
    "window_frames" -> Workloads.WindowFrames)
  val warmups: Int = Workloads.DistinctRequests
  override val cycle: Int = Workloads.RequestKinds.size

  def op(i: Int, traced: Boolean): OpResult = {
    val r = i % requests.size
    val (kind, period, start) = requests(r)
    val end = start + (Workloads.WindowFrames - 1) * Soccer.FrameMicros
    val range = Some((start, end, period))
    val out = dir(s"op$i")
    val frames = feed.window(start, end, period)
    val tr = tracer
    val table = new File(out, kind)
    val (span, rows) = tr.span("op", i) {
      val prepared = spark.read.parquet(rest.getPath)
      kind match {
        case "pi" => tr.span("models.pi", i) {
          parquet(SoccerPipeline.pressingIntensity(prepared, timeRange = range), table)
          ("models.pi", frames.size.toLong)
        }
        case "graphs" => tr.span("graphs.frames", i) {
          SoccerPipeline.sink(
            SoccerPipeline.graphs(PressingIntensity.filterTimeRange(prepared, start, end, period)),
            table.getPath)
          ("graphs.frames", frames.size.toLong)
        }
        case "efpi" => tr.span("models.efpi", i) {
          parquet(SoccerPipeline.formations(spark, prepared, Efpi.Config(), range), table)
          ("models.efpi", frames.map(_.nPresent.toLong).sum)
        }
      }
    }
    OpResult(frames.map(_.nPresent.toLong).sum,
      Seq(Output(s"r$r.$kind", span, table.getPath, rows)), out)
  }
}

/** `CurationPipeline.run` over a seeded corpus. The traced form also
  * sinks each shorter prefix of the same composition (score/gate,
  * + near-dup pairs, + dedup), so a stage's self time is the difference
  * between consecutive prefixes; nothing is persisted that the untraced
  * op does not persist. The warm-up op runs on a small corpus from the
  * same seed. */
final class CorpusCuration(env: Env) extends Workload {
  import env._
  private var docs: Corpus.Docs = _
  private var warmDocs: Corpus.Docs = _

  private def write(to: File)(rows: Seq[(Long, String)]): Unit = {
    val s = spark
    import s.implicits._
    spark.sparkContext.parallelize(rows, cores).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(to.getPath)
  }

  def setup(): String = {
    docs = Corpus.generate(seed, Workloads.CorpusDocs, write(dir("docs")))
    warmDocs = Corpus.generate(seed, Workloads.WarmupDocs, write(dir("warmup-docs")))
    docs.checksum
  }
  def otherSeedChecksum(): String = Corpus.generate(seed + 1, Workloads.CorpusDocs, _ => ()).checksum
  def properties: Seq[(String, Any)] = Seq(
    "docs" -> docs.n,
    "near_dup_docs" -> docs.nearDups,
    "near_dup_share" -> docs.nearDups.toDouble / docs.n,
    "gate_pass_docs" -> docs.gated,
    "gate_pass_share" -> docs.gated.toDouble / docs.n,
    "near_dup_pairs" -> docs.pairs,
    "kept_docs" -> docs.kept,
    "chunks" -> docs.chunks)
  val warmups = 1

  def op(i: Int, traced: Boolean): OpResult = {
    val (d, from, key) = if (i < warmups) (warmDocs, dir("warmup-docs"), "warmup.") else (docs, dir("docs"), "")
    val out = dir(s"op$i")
    def path(name: String) = new File(out, name).getPath
    val tr = tracer
    def input = spark.read.parquet(from.getPath)
    def sink(df: DataFrame, name: String) = parquet(df, new File(path(name)))
    val full = Output(key + "chunks", "llm.chunk", path("chunks"), d.chunks)
    tr.span("op", i) {
      if (!traced) {
        sink(CurationPipeline.run(input), "chunks")
        OpResult(d.n, Seq(full), out)
      } else {
        import CurationPipeline._
        tr.span("llm.score_gate", i) { sink(gate(score(input)), "gated") }
        tr.span("llm.near_dup", i, prev = Some("llm.score_gate")) {
          val g = gate(score(input))
          sink(nearDuplicatePairs(g), "pairs")
        }
        tr.span("llm.dedup", i, prev = Some("llm.near_dup")) {
          val g = gate(score(input))
          sink(dedup(g, nearDuplicatePairs(g)), "deduped")
        }
        tr.span("llm.chunk", i, prev = Some("llm.dedup")) {
          sink(CurationPipeline.run(input), "chunks")
        }
        OpResult(d.n, Seq(
          Output(key + "gated", "llm.score_gate", path("gated"), d.gated),
          Output(key + "pairs", "llm.near_dup", path("pairs"), d.pairs),
          Output(key + "kept", "llm.dedup", path("deduped"), d.kept),
          full), out)
      }
    }
  }

  /** The full composition, which is what an untraced op times. */
  override def comparableWallS(op: Int, tr: Tracer): Option[Double] =
    tr.spans.find(s => s.op == op && s.name == "llm.chunk").map(_.wallS)
}
