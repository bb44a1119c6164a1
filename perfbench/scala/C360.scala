package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.io.{JdbcSink, Sources}
import graft.pipeline.Customer360

/** Zipf(s) sampler over ranks 0..n-1 (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def next(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Seeded {
  /** A seeded permutation of 0..n-1 (rank → key, so hot keys are
    * scattered over the key space instead of being the smallest ids).
    */
  def perm(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}

/** `c360_nightly`: reference-shaped daily JSON viewing logs, daily
  * parquet search-log folders and a keyword mapping CSV, through
  * `Customer360.run` into a `JdbcSink` on embedded Derby.
  *
  * The check recomputes the interaction half independently (plain
  * Scala over the generated rows) and checks the behaviour half by
  * membership only: `Customer360.run` keeps an arbitrary 250 rows of
  * the month-over-month join, so only "is each row a valid trend row"
  * is decidable.
  */
object C360 extends BatchWorkload {
  val name = "c360_nightly"
  val smallScale = 0.03
  // no text kernels, Dedup, Similarity, IndexStore or stream here
  val bypasses = Seq("functions.", "dedup.", "similarity.", "corpus.",
    "sinks.parquet_", "indexstore.", "sinks.epoch_", "stream.")

  // The reference's app → category recode, restated independently of
  // the engine's table for the check.
  private val appCategory: Seq[(String, String)] = Seq(
    "CHANNEL" -> "Truyen_hinh", "DSHD" -> "Truyen_hinh", "KPLUS" -> "Truyen_hinh",
    "VOD" -> "Phim_truyen", "FIMS" -> "Phim_truyen", "SPORT" -> "The_thao",
    "RELAX" -> "Giai_tri", "CHILD" -> "Thieu_nhi")
  private val categories = appCategory.map(_._2).distinct.sorted
  private val catIndex: Map[String, Int] =
    appCategory.map { case (a, c) => a -> categories.indexOf(c) }.toMap
  private val junkApps = Seq("IPTV", "FPLAY")
  private val kwCategories = Seq("Action", "Comedy", "Drama", "Kids",
    "News", "Sports", "Music", "Horror")

  final case class Sizes(contracts: Int, rowsPerDay: Int, users: Int,
      searchPerDay: Int, keywords: Int)

  /** One expected interaction row (sums in `categories` order). */
  final case class Profile(contract: String, sums: Array[Long],
      devices: Long, mostWatch: String, taste: String, activeness: String,
      ctype: String)

  final case class In(cfg: Customer360.Config, url: String,
      profiles: IndexedSeq[Profile],
      trendPairs: Map[(String, String), Int],
      kwCats: Map[String, Set[String]],
      wrong: Boolean)

  def sizes(scale: Double): Sizes = Sizes(
    contracts = math.max(300, (8000 * scale).toInt),
    rowsPerDay = math.max(400, (4000 * scale).toInt),
    users = math.max(400, (6000 * scale).toInt),
    searchPerDay = math.max(300, (2000 * scale).toInt),
    keywords = math.max(50, (3000 * scale).toInt))

  def generate(ctx: Ctx, dir: Path, seed: Long, scale: Double): In = {
    val sz = sizes(scale)
    val rng = new SplittableRandom(seed)
    val contentDir = dir.resolve("log_content")
    val searchDir = dir.resolve("log_search")
    Files.createDirectories(contentDir)
    val profiles = genContent(contentDir, sz, rng)
    val (pairs, kwCats) = genSearch(ctx, dir, searchDir, sz, rng)
    val cfg = Customer360.Config(contentDir.toString, searchDir.toString,
      dir.resolve("mapping.csv").toString)
    val url = s"jdbc:derby:${dir.resolve("derby-c360")};create=true"
    In(cfg, url, profiles, pairs, kwCats, ctx.opts.expectWrong)
  }

  /** Daily `YYYYMMDD.json` files for April 2022 plus out-of-window days;
    * returns the expected per-contract profiles, sorted by contract.
    */
  private def genContent(dir: Path, sz: Sizes, rng: SplittableRandom)
      : IndexedSeq[Profile] = {
    val n = sz.contracts
    val key = Seeded.perm(n, rng)
    val zipf = new Zipf(n, 1.05)
    val nDev = Array.fill(n)(1 + rng.nextInt(4))
    // each contract is active on its own random subset of the 30 days,
    // so every activeness bucket gets contracts
    val days: Array[Array[Int]] = Array.fill(n) {
      val d = 1 + rng.nextInt(30)
      Seeded.perm(30, rng).take(d)
    }
    val sums = Array.ofDim[Long](n, categories.size)
    val dayMask = new Array[Int](n)
    val devMask = new Array[Int](n)
    val hasCat = new Array[Boolean](n)
    val apps = appCategory.map(_._1)
    val contractIds = Array.tabulate(n)(i => f"C${key(i)}%07d")
    val macs = Array.tabulate(n)(i => f"M${key(i)}%07d")
    def contractId(i: Int) = contractIds(i)

    val writers = (1 to 30).map { d =>
      new BufferedWriter(new FileWriter(dir.resolve(f"202204$d%02d.json").toFile), 1 << 16)
    }
    def line(w: BufferedWriter, contract: String, mac: String, app: String,
        dur: Long): Unit = {
      w.write("{\"_index\":\"history\",\"_source\":{")
      if (contract != null) w.write("\"Contract\":\"" + contract + "\",")
      w.write("\"Mac\":\"" + mac + "\",\"AppName\":\"" + app +
        "\",\"TotalDuration\":" + dur + "}}\n")
    }
    var r = 0
    val total = sz.rowsPerDay * 30
    while (r < total) {
      val c = zipf.next(rng)
      val day = days(c)(rng.nextInt(days(c).length))
      val dev = rng.nextInt(nDev(c))
      val u = rng.nextInt(1000)
      val dur = 1L + rng.nextInt(3600)
      val w = writers(day)
      if (u < 8) line(w, "0", "M0", apps(rng.nextInt(apps.size)), dur) // junk contract
      else if (u < 9) line(w, null, "MX", "VOD", dur) // no contract: filtered
      else {
        val app =
          if (u < 60) junkApps(rng.nextInt(junkApps.size))
          else apps(rng.nextInt(apps.size))
        line(w, contractId(c), s"${macs(c)}-$dev", app, dur)
        dayMask(c) |= 1 << day
        devMask(c) |= 1 << dev
        catIndex.get(app).foreach { k => sums(c)(k) += dur; hasCat(c) = true }
      }
      r += 1
    }
    writers.head.write("{\"_source\": {broken\n") // a corrupt line: null row
    writers.foreach(_.close())
    // out-of-window days: listed by the directory, dropped by the date range
    Seq("20220331", "20220501").foreach { d =>
      val w = new BufferedWriter(new FileWriter(dir.resolve(s"$d.json").toFile))
      (0 until 200).foreach(i => line(w, contractId(i % n), "MZ", "SPORT", 99999L))
      w.close()
    }

    def bucket(d: Int): String =
      if (d <= 7) "very low" else if (d <= 14) "low" else if (d <= 21) "moderate"
      else if (d <= 28) "high" else "very high"
    val live = (0 until n).filter(c => hasCat(c))
    val totals = live.map(c => sums(c).sum.toDouble).sorted
    // exact interpolated percentile, Spark's `percentile` arithmetic
    def percentile(p: Double): Double = {
      val pos = (totals.size - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) totals(lo)
      else (hi - pos) * totals(lo) + (pos - lo) * totals(hi)
    }
    val q1 = percentile(0.25)
    val med = percentile(0.5)
    live.map { c =>
      val s = sums(c)
      val g = s.max
      val act = bucket(Integer.bitCount(dayMask(c)))
      val tot = s.sum.toDouble
      val ctype = act match {
        case "very low" if tot < q1 => "leaving"
        case "low" if tot < med => "need attention"
        case "moderate" if tot < med => "normal"
        case "moderate" => "potential"
        case "high" if tot > q1 => "loyal"
        case "very high" if tot > q1 => "VIP"
        case _ => "anomaly"
      }
      Profile(contractId(c), s.clone(), Integer.bitCount(devMask(c)).toLong,
        categories(s.indexOf(g)),
        categories.indices.filter(s(_) != 0).map(categories).mkString("-"),
        act, ctype)
    }.sortBy(_.contract).toIndexedSeq
  }

  /** Daily parquet search folders for months 5–8 and `mapping.csv`;
    * returns the multiset of valid (month-6, month-7) trimmed keyword
    * pairs and the categories each mapped keyword may take.
    */
  private def genSearch(ctx: Ctx, dir: Path, searchDir: Path, sz: Sizes,
      rng: SplittableRandom): (Map[(String, String), Int], Map[String, Set[String]]) = {
    val userKey = Seeded.perm(sz.users, rng)
    val kwKey = Seeded.perm(sz.keywords, rng)
    val uz = new Zipf(sz.users, 0.9)
    val kz = new Zipf(sz.keywords, 1.1)
    val inWindow: Seq[String] =
      (1 to 30).map(d => f"202206$d%02d") ++ (1 to 13).map(d => f"202207$d%02d")
    val outWindow: Seq[String] = (25 to 31).map(d => f"202205$d%02d") ++
      (14 to 18).map(d => f"202207$d%02d") ++ (1 to 4).map(d => f"202208$d%02d")
    val userIds = Array.tabulate(sz.users)(i => f"U${userKey(i)}%06d")
    val kwIds = Array.tabulate(sz.keywords)(i => f"kw${kwKey(i)}%05d")
    val counts = mutable.Map.empty[(Int, String, String), Int]
    val rows = mutable.ArrayBuffer.empty[Row]
    for (day <- inWindow ++ outWindow) {
      val counted = inWindow.contains(day)
      val ts = s"${day.take(4)}-${day.slice(4, 6)}-${day.drop(6)}"
      var i = 0
      while (i < sz.searchPerDay) {
        val u = rng.nextInt(100)
        val user = if (u == 0) null else userIds(uz.next(rng))
        val kw0 = kwIds(kz.next(rng))
        val kw = if (u == 1) null else if (u < 6) s" $kw0  " else kw0
        val dt = f"$ts ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
        rows += Row(dt, user, kw, day)
        if (counted && user != null && kw != null) {
          val k = (day.slice(4, 6).toInt, user, kw)
          counts(k) = counts.getOrElse(k, 0) + 1
        }
        i += 1
      }
    }
    val schema = StructType(Seq(StructField("datetime", StringType),
      StructField("user_id", StringType), StructField("keyword", StringType),
      StructField("day", StringType)))
    val staging = dir.resolve("search_staging")
    // one task writes every day: one file per day folder, no shuffle
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows.toSeq, 4), schema)
      .coalesce(1)
      .write.partitionBy("day").parquet(staging.toString)
    Files.createDirectories(searchDir)
    (inWindow ++ outWindow).foreach { d =>
      Files.move(staging.resolve(s"day=$d"), searchDir.resolve(d))
    }
    Main.deleteTree(staging)

    // most-searched raw keyword per (month, user): count desc, keyword asc
    val best: Map[(Int, String), String] = counts.toSeq
      .groupBy { case ((m, u, _), _) => (m, u) }
      .map { case (mu, kws) =>
        mu -> kws.map { case ((_, _, k), c) => (-c, k) }.min._2
      }
    val pairs = best.toSeq.collect {
      case ((6, u), k6) if best.contains((7, u)) => (k6.trim, best((7, u)).trim)
    }.groupBy(identity).map { case (p, ps) => p -> ps.size }

    // mapping: most keywords mapped, some duplicated (arbitrary survivor)
    val kwCats = mutable.Map.empty[String, Set[String]]
    val w = new BufferedWriter(new FileWriter(dir.resolve("mapping.csv").toFile))
    w.write("search,category\n")
    (0 until sz.keywords).foreach { k =>
      val kw = f"kw$k%05d"
      if (rng.nextInt(10) < 8) {
        val cats = if (rng.nextInt(20) == 0) Seq.fill(2)(kwCategories(rng.nextInt(kwCategories.size)))
          else Seq(kwCategories(rng.nextInt(kwCategories.size)))
        cats.foreach(c => w.write(s"$kw,$c\n"))
        kwCats(kw) = cats.toSet
      }
    }
    w.close()
    (pairs, kwCats.toMap)
  }

  private def sink(in: In) = JdbcSink(in.url, "CUSTOMER360",
    "org.apache.derby.jdbc.EmbeddedDriver", "app", "app", numPartitions = 4)

  def runOnce(ctx: Ctx, in: In): Unit = Customer360.run(ctx.spark, in.cfg, sink(in))

  /** The sink's table read back over plain JDBC: column → value. */
  private def readBack(in: In): IndexedSeq[Map[String, Any]] = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(in.url, "app", "app")
    try {
      val rs = conn.createStatement().executeQuery("SELECT * FROM CUSTOMER360")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => (i, md.getColumnName(i), md.getColumnType(i)))
      val out = mutable.ArrayBuffer.empty[Map[String, Any]]
      while (rs.next()) out += cols.map { case (i, n, t) =>
        n -> (if (t == java.sql.Types.BIGINT) rs.getLong(i) else rs.getString(i))
      }.toMap
      out.toIndexedSeq
    } finally conn.close()
  }

  def check(ctx: Ctx, in: In): Option[String] = {
    val rows = readBack(in).sortBy(_("Contract").asInstanceOf[String])
    val nPairs = in.trendPairs.values.sum
    val want = Seq(in.cfg.limit, in.profiles.size, nPairs).min
    if (rows.length != want) return Some(s"rows ${rows.length} != $want")
    val profiles = if (in.wrong) in.profiles.tail else in.profiles
    val bad = rows.indices.iterator.flatMap { i =>
      val r = rows(i)
      val p = profiles(i)
      val got = (r("Contract").asInstanceOf[String],
        categories.map(c => r(s"Total_$c").asInstanceOf[Long]),
        r("TotalDevices").asInstanceOf[Long], r("MostWatch").asInstanceOf[String],
        r("CustomerTaste").asInstanceOf[String], r("Activeness").asInstanceOf[String],
        r("CustomerType").asInstanceOf[String])
      val exp = (p.contract, p.sums.toSeq, p.devices, p.mostWatch, p.taste,
        p.activeness, p.ctype)
      if (got != exp) Some(s"interaction row $i: $got != $exp") else None
    }.take(1).toList
    if (bad.nonEmpty) return bad.headOption
    // behaviour half: each row a valid trend row, no pair used too often
    val used = mutable.Map.empty[(String, String), Int]
    rows.iterator.map { r =>
      val k6 = r("most_search_month_6").asInstanceOf[String]
      val k7 = r("most_search_month_7").asInstanceOf[String]
      val c6 = r("category_t6").asInstanceOf[String]
      val c7 = r("category_t7").asInstanceOf[String]
      used((k6, k7)) = used.getOrElse((k6, k7), 0) + 1
      def catOk(k: String, c: String) = in.kwCats.get(k) match {
        case None => c == null
        case Some(cs) => cs.contains(c)
      }
      val same = c6 != null && c7 != null && c6 == c7
      val trend = if (same) "Unchanged" else "Changed"
      val prev = if (same) "Unchanged" else Seq(c6, c7).filter(_ != null).mkString(" -> ")
      if (used((k6, k7)) > in.trendPairs.getOrElse((k6, k7), 0))
        Some(s"trend pair ($k6, $k7) not expected that often")
      else if (!catOk(k6, c6) || !catOk(k7, c7)) Some(s"categories ($c6, $c7) for ($k6, $k7)")
      else if (r("Trending_Type").asInstanceOf[String] != trend ||
        r("Previous").asInstanceOf[String] != prev) Some(s"trend columns for ($k6, $k7)")
      else None
    }.collectFirst { case Some(p) => p }
  }

  def layers(ctx: Ctx, in: In, res: Result): Unit = {
    val spark = ctx.spark
    val cfg = in.cfg
    val json = Batch.prefix(ctx, "sources.readLogContent") {
      Batch.noop(Sources.readLogContent(spark, cfg.logContentDir,
        cfg.interactionStart, cfg.interactionEnd))
    }
    val pq = Batch.prefix(ctx, "sources.readLogSearch") {
      Batch.noop(Sources.readLogSearch(spark, cfg.logSearchDir,
        cfg.behaviorStart, cfg.behaviorEnd))
    }
    res.putLayer("sources.json_scan_s", json.seconds)
    res.putLayer("sources.parquet_scan_s", pq.seconds)
    res.putLayer("sources.input_mb",
      json.counters("spark.input_mb") + pq.counters("spark.input_mb"))
    res.putLayer("sources.rows_in",
      json.counters("spark.input_rows") + pq.counters("spark.input_rows"))

    // the quantile job runs inside the call that builds the branch
    val prof = Batch.prefix(ctx, "interaction.profile") {
      Batch.noop(ctx.tracer.span("interaction.quantile_job") {
        Customer360.interactionBranch(spark, cfg)
      })
    }
    res.putLayer("interaction.profile_s", prof.seconds)
    res.putLayer("interaction.quantile_job_s",
      ctx.tracer.named("interaction.quantile_job").last.seconds)
    res.putLayer("interaction.shuffle_mb", prof.counters("spark.shuffle_write_mb"))
    res.putLayer("interaction.spill_mb", prof.counters("spark.spill_mb"))

    val beh = Batch.prefix(ctx, "behavior.branch") {
      Batch.noop(Customer360.behaviorBranch(spark, cfg))
    }
    res.putLayer("behavior.trend_s", beh.seconds)
    res.putLayer("behavior.shuffle_mb", beh.counters("spark.shuffle_write_mb"))
    res.putLayer("behavior.broadcast_build_ms", beh.counters("spark.broadcast_build_ms"))

    // merge and sink alone, over materialized inputs
    Batch.fresh(ctx)
    val i = Customer360.interactionBranch(spark, cfg).localCheckpoint()
    val b = Customer360.behaviorBranch(spark, cfg).localCheckpoint()
    import org.apache.spark.sql.functions.col
    val merged = ctx.tracer.span("merge.zipJoinDeterministic") {
      graft.ops.Merge.zipJoinDeterministic(i, Seq(col("Contract")),
        b, Seq(col("user_id")), limit = Some(cfg.limit)).localCheckpoint()
    }
    res.putLayer("merge.zip_s", ctx.tracer.named("merge.zipJoinDeterministic").last.seconds)
    ctx.tracer.span("sinks.JdbcSink.write")(sink(in).write(merged))
    res.putLayer("sinks.jdbc_write_s", ctx.tracer.named("sinks.JdbcSink.write").last.seconds)
    Batch.fresh(ctx)
  }
}
