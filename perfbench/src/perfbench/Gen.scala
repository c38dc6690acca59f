package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. The program only ever sees the files these
  * write; everything the output checks expect is derived here, from the
  * generator's own record of what it wrote. */
object Gen {

  /** SHA-256 accumulator over generated content, reported as 16 hex digits. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def cleanDir(d: File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(cleanDir)
    d.delete()
  }
}

/** Synthetic soccer feed in the provider wide-CSV shape read by
  * `SoccerPipeline.load`: 23 objects per frame (h1..h11, a1..a11, ball)
  * at 25 fps, one file per (game, period), two periods per game.
  *
  * Players wander smoothly around formation slots while their team block
  * shifts with play; the ball is dribbled by a carrier (0.45 m ahead of
  * the feet) and passed between carriers along a straight path, so
  * kinematics, carrier inference and possession spells are meaningful.
  * A seeded share of player rows is absent ("NA"), which runs the
  * padding and incomplete-frame paths, and seeded episodes with an
  * untracked ball leave frames without inferred possession.
  *
  * Coordinates are rounded to centimetres, so the CSV text parses back
  * to exactly the doubles used below; possession per frame is derived
  * with the same arithmetic the program applies (nearest object to the
  * ball within the carrier threshold, ties by id). */
object Soccer {
  val Games: Seq[String] = Seq("g1", "g2")
  val Periods: Seq[Int] = Seq(1, 2)
  val FrameMicros = 40000L
  val HomeIds: IndexedSeq[String] = (1 to 11).map(i => s"h$i")
  val AwayIds: IndexedSeq[String] = (1 to 11).map(i => s"a$i")
  val PlayerIds: IndexedSeq[String] = HomeIds ++ AwayIds
  /** Goalkeepers, stamped into `position_name` by the benchmark the way a
    * provider's roster metadata would (the wide CSV carries no roles). */
  val Goalkeepers: Seq[String] = Seq("h1", "a1")
  val AbsentRowShare = 0.004
  val CarrierThreshold = 25.0 // TrackingSettings().ballCarrierThreshold

  // 4-4-2 slots for a team attacking +x, in metres from the centre spot
  private val Slots: IndexedSeq[(Double, Double)] = IndexedSeq(
    (-47.0, 0.0),
    (-33.0, -22.0), (-35.0, -8.0), (-35.0, 8.0), (-33.0, 22.0),
    (-14.0, -24.0), (-16.0, -8.0), (-16.0, 8.0), (-14.0, 24.0),
    (2.0, -9.0), (4.0, 9.0))

  /** One generated frame: which of the 23 objects are present (players
    * in [[PlayerIds]] order, then the ball) and the inferred owning
    * team (0 = none, 1 = home, 2 = away). */
  final case class Frame(game: Int, period: Int, frameId: Long, ts: Long,
      present: Array[Boolean], owning: Int) {
    def nPresent: Int = present.count(identity)
  }

  final case class Feed(dir: File, games: Int, frames: IndexedSeq[Frame], checksum: String) {
    lazy val rows: Long = frames.map(_.nPresent.toLong).sum
    lazy val possessed: IndexedSeq[Frame] = frames.filter(_.owning != 0)
    lazy val preparedRows: Long = possessed.map(_.nPresent.toLong).sum
    lazy val absentPlayerRows: Long =
      frames.map(f => (0 until 22).count(i => !f.present(i)).toLong).sum

    /** EFPI `every = "possession"` rows: one per object present in each
      * possession segment (a run of frames of one owning team within one
      * period of one game, over possessed frames in frame order). */
    lazy val efpiPossessionRows: Long = {
      var total = 0L
      for (g <- 0 until games) {
        var key: (Int, Int) = null
        var seen = new Array[Boolean](23)
        def flush(): Unit = total += seen.count(identity)
        possessed.filter(_.game == g).sortBy(_.frameId).foreach { f =>
          val k = (f.period, f.owning)
          if (k != key) {
            if (key != null) flush()
            key = k
            seen = new Array[Boolean](23)
          }
          var i = 0
          while (i < 23) { if (f.present(i)) seen(i) = true; i += 1 }
        }
        if (key != null) flush()
      }
      total
    }

    /** Possessed frames inside `[start, end]` micros of one period, all games. */
    def window(start: Long, end: Long, period: Int): IndexedSeq[Frame] =
      possessed.filter(f => f.period == period && f.ts >= start && f.ts <= end)
  }

  private final class Wave(rnd: SplittableRandom, amp: Double, minPeriod: Double, maxPeriod: Double) {
    private val a = amp * (0.5 + 0.5 * rnd.nextDouble())
    private val w = 2 * math.Pi / (minPeriod + (maxPeriod - minPeriod) * rnd.nextDouble())
    private val phase = 2 * math.Pi * rnd.nextDouble()
    def apply(t: Double): Double = a * math.sin(w * t + phase)
  }

  private def cm(v: Double): Double = math.round(v * 100.0) / 100.0

  /** Writes the feed under `dir` (replacing it) and returns its record. */
  def generate(seed: Long, games: Int, framesPerPeriod: Int, dir: File): Feed = {
    Gen.cleanDir(dir)
    dir.mkdirs()
    val root = new SplittableRandom(seed)
    val digest = new Gen.Digest
    val header = (Seq("game_id", "period_id", "frame_id", "timestamp") ++
      PlayerIds.flatMap(id => Seq(s"${id}_x", s"${id}_y")) ++
      Seq("ball_x", "ball_y", "ball_z")).mkString(",")
    val frames = IndexedSeq.newBuilder[Frame]
    for ((game, g) <- Games.take(games).zipWithIndex; period <- Periods) {
      val rnd = root.split()
      // per-player wander and per-team block shift, fixed for the period
      val wx = Array.fill(22)((new Wave(rnd, 5.0, 8, 30), new Wave(rnd, 2.0, 3, 9)))
      val wy = Array.fill(22)((new Wave(rnd, 4.0, 8, 30), new Wave(rnd, 1.5, 3, 9)))
      val block = Array.fill(2)(new Wave(rnd, 14.0, 40, 120))
      def player(i: Int, t: Double): (Double, Double) = {
        val home = i < 11
        val (sx, sy) = Slots(i % 11)
        val dir = if (home) 1.0 else -1.0
        val bx = dir * (sx + block(if (home) 0 else 1)(t))
        val x = bx + wx(i)._1(t) + wx(i)._2(t)
        val y = dir * sy + wy(i)._1(t) + wy(i)._2(t)
        (cm(math.max(-54.0, math.min(54.0, x))), cm(math.max(-35.0, math.min(35.0, y))))
      }
      // carrier schedule: dribble spells, then a pass to the next carrier
      // (mostly a team-mate, sometimes a turnover)
      val n = framesPerPeriod
      val carrierAt = new Array[Int](n) // carrier index during a dribble, -1 in flight
      val passFrom = new Array[Int](n)
      val passTo = new Array[Int](n)
      val passStart = new Array[Int](n)
      val passLen = new Array[Int](n)
      val lofted = new Array[Boolean](n)
      var f = 0
      var carrier = 1 + rnd.nextInt(10) + (if (rnd.nextBoolean()) 11 else 0)
      while (f < n) {
        val spell = 20 + rnd.nextInt(70)
        var k = 0
        while (k < spell && f < n) { carrierAt(f) = carrier; f += 1; k += 1 }
        val sameTeam = rnd.nextDouble() < 0.75
        val team = if ((carrier < 11) == sameTeam) 0 else 11
        var next = team + 1 + rnd.nextInt(10)
        if (next == carrier) next = team + 1 + (next - team) % 10
        val len = 8 + rnd.nextInt(13)
        val high = rnd.nextDouble() < 0.3
        val start = f
        k = 0
        while (k < len && f < n) {
          carrierAt(f) = -1; passFrom(f) = carrier; passTo(f) = next
          passStart(f) = start; passLen(f) = len; lofted(f) = high
          f += 1; k += 1
        }
        carrier = next
      }
      // untracked-ball episodes
      val ballMissing = new Array[Boolean](n)
      for (_ <- 0 until 2) {
        val len = 25 + rnd.nextInt(36)
        val start = rnd.nextInt(math.max(1, n - len))
        for (i <- start until math.min(n, start + len)) ballMissing(i) = true
      }
      def atFeet(i: Int, t: Double): (Double, Double) = {
        val (x, y) = player(i, t)
        (x + (if (i < 11) 0.4 else -0.4), y + 0.2)
      }
      val out = new BufferedWriter(new FileWriter(new File(dir, s"$game-p$period.csv")))
      try {
        out.write(header); out.write('\n')
        digest.add(header)
        val px = new Array[Double](22)
        val py = new Array[Double](22)
        val present = new Array[Boolean](23)
        for (i <- 0 until n) {
          val t = i * (FrameMicros / 1e6)
          val frameId = (period - 1) * n + i.toLong
          val ts = i * FrameMicros
          for (p <- 0 until 22) {
            val (x, y) = player(p, t)
            px(p) = x; py(p) = y
            present(p) = rnd.nextDouble() >= AbsentRowShare
          }
          val (bx0, by0, bz0) =
            if (carrierAt(i) >= 0) {
              val (x, y) = atFeet(carrierAt(i), t)
              (x, y, 0.11)
            } else {
              val s = (i - passStart(i) + 1).toDouble / (passLen(i) + 1)
              val (ax, ay) = atFeet(passFrom(i), passStart(i) * 0.04)
              val (cx, cy) = atFeet(passTo(i), (passStart(i) + passLen(i)) * 0.04)
              val h = if (lofted(i)) 2.5 else 0.0
              (ax + (cx - ax) * s, ay + (cy - ay) * s, 0.11 + h * 4 * s * (1 - s))
            }
          val bx = cm(bx0); val by = cm(by0); val bz = cm(bz0)
          present(22) = !ballMissing(i)
          // possession exactly as the program infers it
          var owning = 0
          if (present(22)) {
            var best = Double.PositiveInfinity
            var bestId: String = null
            for (p <- 0 until 22 if present(p)) {
              val dx = px(p) - bx; val dy = py(p) - by; val dz = 0.0 - bz
              val d = math.sqrt(dx * dx + dy * dy + dz * dz)
              if (d < CarrierThreshold &&
                  (d < best || (d == best && PlayerIds(p).compareTo(bestId) < 0))) {
                best = d; bestId = PlayerIds(p); owning = if (p < 11) 1 else 2
              }
            }
          }
          val sb = new StringBuilder
          sb.append(game).append(',').append(period).append(',')
            .append(frameId).append(',').append(ts)
          for (p <- 0 until 22) {
            if (present(p)) sb.append(',').append(px(p)).append(',').append(py(p))
            else sb.append(",NA,NA")
          }
          if (present(22)) sb.append(',').append(bx).append(',').append(by).append(',').append(bz)
          else sb.append(",NA,NA,NA")
          val line = sb.toString
          out.write(line); out.write('\n')
          digest.add(line)
          frames += Frame(g, period, frameId, ts, present.clone(), owning)
        }
      } finally out.close()
    }
    Feed(dir, games, frames.result(), digest.hex)
  }
}

/** Seeded document corpus for `CurationPipeline.run`.
  *
  * Classes of documents, shuffled under random ids:
  *  - gate-passing originals: a marker word, then 100..500 pseudo-words
  *    with about 5% language marker words, so the quality score is far
  *    above the 0.5 floor;
  *  - near-duplicate copies of those originals: the same tokens with
  *    changed letter case and spacing, so their shingle sets are equal
  *    and MinHash LSH pairs them whatever its hash draws (a copy that
  *    differs by even one token is missed now and then, which would make
  *    the expected counts wrong);
  *  - gate failures: marker-free text (language "und"), or 20..40
  *    tokens drawn from three words (quality score below 0.42).
  *
  * Pseudo-words are two to four two-letter syllables, so they never
  * collide with the marker words or stop words. */
object Corpus {
  val UndShare = 0.10
  val LowQualityShare = 0.10
  val NearDupShare = 0.20
  /** `CurationPipeline.run`'s default chunk stride. */
  val ChunkStride = 384

  private val Syllables = Seq("ka", "lo", "mi", "ru", "te", "pa", "no", "vi", "zu", "be",
    "sa", "do", "ri", "fu", "ge", "ho", "ja", "ky", "ma", "ne", "ol", "qu", "wi", "xe")
  private val Markers: Seq[Seq[String]] = Seq(
    Seq("the", "a", "of", "and"), Seq("der", "die", "das", "und"),
    Seq("el", "la", "los", "y"), Seq("le", "la", "les", "et"), Seq("de", "le", "he", "shi"))

  final case class Docs(n: Int, checksum: String, gated: Long,
      pairs: Long, kept: Long, chunks: Long, nearDups: Long)

  def generate(seed: Long, nDocs: Int, write: Seq[(Long, String)] => Unit): Docs = {
    val rnd = new SplittableRandom(seed)
    val vocab = (0 until 6000).map { _ =>
      (0 until 2 + rnd.nextInt(3)).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
    }.distinct
    def words(k: Int) = IndexedSeq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val nUnd = (nDocs * UndShare).toInt
    val nLow = (nDocs * LowQualityShare).toInt
    val nDup = (nDocs * NearDupShare).toInt
    val nOrig = nDocs - nUnd - nLow - nDup

    val originals = IndexedSeq.fill(nOrig) {
      val marks = Markers(rnd.nextInt(Markers.size))
      marks(rnd.nextInt(4)) +:
        words(100 + rnd.nextInt(401)).map(w => if (rnd.nextDouble() < 0.05) marks(rnd.nextInt(4)) else w)
    }
    val copyOf = IndexedSeq.fill(nDup)(rnd.nextInt(nOrig))
    val copies = copyOf.map(originals)
    def render(toks: Seq[String], perturb: Boolean): String =
      if (!perturb) toks.mkString(" ")
      else toks.map(t => if (rnd.nextDouble() < 0.1) t.toUpperCase else t)
        .mkString(if (rnd.nextBoolean()) "  " else " \n")
    val texts: IndexedSeq[String] =
      originals.map(render(_, perturb = false)) ++
      copies.map(render(_, perturb = true)) ++
      IndexedSeq.fill(nUnd)(words(120 + rnd.nextInt(281)).mkString(" ")) ++
      IndexedSeq.fill(nLow) {
        val three = words(2) :+ Markers(rnd.nextInt(Markers.size)).head
        IndexedSeq.fill(20 + rnd.nextInt(21))(three(rnd.nextInt(3))).mkString(" ")
      }
    // random id permutation (Fisher-Yates)
    val ids = Array.tabulate(nDocs)(_.toLong)
    for (i <- nDocs - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val digest = new Gen.Digest
    val rows = texts.indices.map { i => digest.add(s"${ids(i)}\t${texts(i)}\n"); (ids(i), texts(i)) }

    // expected outputs: each cluster (an original and its copies, all with
    // the original's tokens) keeps one doc and pairs all of its members
    val clusterSize = Array.fill(nOrig)(1L)
    copyOf.foreach(o => clusterSize(o) += 1)
    write(rows)
    Docs(nDocs, digest.hex, gated = nOrig + nDup,
      pairs = clusterSize.map(k => k * (k - 1) / 2).sum, kept = nOrig,
      chunks = originals.map(t => (t.size - 1) / ChunkStride + 1).sum.toLong, nearDups = nDup)
  }
}
