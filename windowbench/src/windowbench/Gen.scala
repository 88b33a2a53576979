package windowbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Ground truth for one generated window, tallied line by line while the
  * lines are written. Keys of the per-client maps use clientName 0 for the
  * all-clients rows, as the reports do.
  *
  * `trendRows`/`trendResolver` describe the `trend` table at
  * [[Gen.TrendThreshold]]; `topDetailRows`/`topDetailResolver` the
  * `top_detail` table at [[Gen.TopDetailK]] (resolver sum only when the
  * top-K does not cut, i.e. `topDetailRows < TopDetailK`); the last two are
  * the row counts of `per_code_top` and `top_users`. */
final case class Tally(
    window: Int, startMs: Long, lines: Long, kept: Long,
    clear: Map[Int, (Long, Long)],          // clientName -> (sampleNum, errorNum)
    byType: Map[(Int, String), Long],       // (clientName, requestType) -> n
    byCode: Map[(Int, Int), Long],          // (clientName, responseCode) -> n
    trendRows: Long, trendResolver: Long,
    topDetailRows: Long, topDetailResolver: Long,
    perCodeTopRows: Long, topUsersRows: Long) {
  def toJson: String = {
    def q(s: String) = "\"" + s + "\""
    val c = clear.toSeq.sorted.map { case (k, (s, e)) => s"${q(k.toString)}:[$s,$e]" }
    val t = byType.toSeq.sorted.map { case ((k, ty), n) => s"${q(s"$k/$ty")}:$n" }
    val r = byCode.toSeq.sorted.map { case ((k, co), n) => s"${q(s"$k/$co")}:$n" }
    s"""{"window":$window,"start_ms":$startMs,"lines_in":$lines,"lines_kept":$kept,""" +
      s""""errors":${clear(0)._2},"clear":{${c.mkString(",")}},""" +
      s""""request_type":{${t.mkString(",")}},"response_code":{${r.mkString(",")}},""" +
      s""""trend_rows":$trendRows,"trend_resolver":$trendResolver,""" +
      s""""top_detail_rows":$topDetailRows,"top_detail_resolver":$topDetailResolver,""" +
      s""""per_code_top_rows":$perCodeTopRows,"top_users_rows":$topUsersRows}"""
  }
}

/** Seeded DNS traffic and dimension tables. Everything is a pure function
  * of the seed: the same seed writes byte-identical window files, tally
  * files and dimension parquet.
  *
  * The traffic carries the drop mix the ingest filters exist for: malformed
  * JSON, missing Domain, QR=false, garbage domains, out-of-window
  * timestamps and null ResponseCode. Domains are Zipf-distributed over
  * [[Gen.Domains]] names; clients are spread over a large IP pool in the
  * client-rule ranges, plus a few heavy home users so `top_users` has rows
  * at the production threshold. */
final class Gen(seed: Long) {
  import Gen._

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  // ---- IP layout ---------------------------------------------------------
  // client rules: ClientRules disjoint 1024-wide ranges, 2048 apart, from
  // 100.64.0.0; the gaps are clients no rule matches (clientName 5)
  private val clientBase = ipOf(100, 64, 0, 0)
  private def clientRuleType(i: Int): Int = Array(1, 1, 2, 3, 4)(i % 5)
  // business and media ranges, 256 wide; answers land in them or elsewhere
  private val bizBase = ipOf(58, 0, 0, 0)
  private val mediaBase = ipOf(59, 0, 0, 0)
  private val geoLo = ipOf(1, 0, 0, 0)
  private val geoWidth = (ipOf(224, 0, 0, 0) - geoLo) / GeoRanges

  /** Client pool: (ip, clientName), uniform draws; 90% inside a rule. */
  private val clients: Array[(String, Int)] = {
    val r = rng(1)
    Array.fill(ClientPool) {
      val rule = r.nextInt(ClientRules)
      val inRule = r.nextInt(10) != 0
      val off = if (inRule) r.nextInt(1024) else 1024 + r.nextInt(1024)
      (longToIp(clientBase + rule * 2048L + off),
        if (inRule) clientRuleType(rule) else 5)
    }
  }
  /** Heavy home users: each hammers one popular domain. */
  private val heavy: Array[(String, Int)] = {
    val home = clients.filter(_._2 == 1)
    Array.tabulate(HeavyUsers)(i => (home(i * 7)._1, 3 + i))
  }
  /** Pool indices of the users dimension, one per client IP. */
  private val users: Seq[Int] =
    (clients.indices.filter(_ % 4 == 0).take(Users) ++
      heavy.map(h => clients.indexWhere(_._1 == h._1))).distinctBy(j => clients(j)._1)
  private val userIps: Set[String] = users.map(clients(_)._1).toSet

  // ---- domains -----------------------------------------------------------
  private val tlds = Array("com", "cn", "net", "com.cn", "org")
  private val prefixes = Array("www.", "api.", "", "img.", "m.")
  def site(rank: Int): String = s"s$rank.${tlds(rank % tlds.length)}"
  def domain(rank: Int): String = prefixes((rank / 5) % prefixes.length) + site(rank)
  /** The j-th A record of a domain: a fixed address per domain, in a
    * business range (30%), a media range (20%) or elsewhere. */
  def domainIp(rank: Int, j: Int): String = {
    val h = mix(rank.toLong * 31 + j)
    val kind = ((h >>> 8) % 10).toInt
    val low = (h >>> 20) & 0xff
    if (kind < 3) longToIp(bizBase + ((h >>> 32) % BusinessRules) * 512 + low)
    else if (kind < 5) longToIp(mediaBase + ((h >>> 32) % MediaRules) * 1024 + low)
    else longToIp(ipOf(60, 0, 0, 0) + ((h >>> 24) & 0x7fffffffL) % ipOf(100, 0, 0, 0))
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Domains)(i => 1.0 / math.pow(i + 1, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Domains - 1)
  }
  private val whitelistRanks: Set[Int] = (0 until Whitelist).map(_ * 3).toSet
  private val whitelistDomains: Set[String] = whitelistRanks.map(domain)

  private val servers = Array.tabulate(Servers)(i => s"218.108.248.${200 + i}")
  private val types = Array("A", "AAAA", "CNAME", "PTR", "MX", "TXT")
  private val typeCdf = Array(0.70, 0.90, 0.94, 0.97, 0.99, 1.0)
  private val garbage = Array("master01.corp", "printer.localdomain", "HOST-12",
    "a b.example.com", "getCachedData.cdn", "BlinkAP_3", "lease.DHCP", "")

  /** Writes window `w` (start `startMs`, `lines` lines) to `file` and
    * returns its tally. `stream` selects an independent random stream so
    * workloads never share windows. */
  def window(w: Int, stream: Long, startMs: Long, lines: Int, file: Path): Tally = {
    val r = rng(1000L * stream + w + 17)
    val out = Files.newBufferedWriter(file, UTF_8)
    var kept = 0L
    val clear = mutable.HashMap[Int, Array[Long]]()
    val byType = mutable.HashMap[(Int, String), Long]()
    val byCode = mutable.HashMap[(Int, Int), Long]()
    val trend = mutable.HashMap[(Int, String, String), Long]()
    val base = mutable.HashMap[(Int, String, String, String), Long]()
    val perCode = mutable.HashMap[(Int, Int), mutable.HashSet[String]]()
    val userGroups = mutable.HashMap[(String, String, String), Long]()
    val sb = new java.lang.StringBuilder(256)
    // about 160 lines per heavy user: about half of them fall in its one
    // (domain, A answer) group, which so clears the top_users threshold
    val heavyN = math.max(1, math.min(HeavyUsers, lines * HeavyPerMille / 1000 / 160))
    try for (_ <- 0 until lines) {
      sb.setLength(0)
      val (client, cn, rank) =
        if (r.nextInt(1000) < HeavyPerMille) {
          val h = heavy(r.nextInt(heavyN)); (h._1, 1, h._2)
        } else { val c = clients(r.nextInt(clients.length)); (c._1, c._2, zipfRank(r)) }
      val drop = r.nextInt(1000)
      val tpe = { val u = r.nextDouble(); types(typeCdf.indexWhere(u < _)) }
      val code = { val u = r.nextInt(1000); if (u < 900) 0 else if (u < 970) 3 else if (u < 995) 2 else 5 }
      val server = servers(r.nextInt(servers.length))
      var dom = domain(rank)
      var ts = startMs + r.nextInt(300000)
      var qr = true
      var nullCode = false
      drop match {
        case d if d < 3 => dom = garbage(r.nextInt(garbage.length))
        case d if d < 23 => qr = false
        case d if d < 33 => ts = if (r.nextBoolean()) startMs - 1 - r.nextInt(60000)
                                 else startMs + 300000 + r.nextInt(60000)
        case d if d < 38 => nullCode = true
        case _ =>
      }
      // answers: (Type, Value) pairs
      val answers: Seq[(String, String)] =
        if (code != 0) Nil
        else tpe match {
          case "A" =>
            val u = r.nextInt(100)
            if (u < 10) Nil
            else if (u < 15) Seq("A" -> "0.0.0.0")
            else (if (u < 40) Seq("CNAME" -> s"cdn.${site(rank)}") else Nil) ++
              (0 until 1 + (rank % 2)).map(j => "A" -> domainIp(rank, j))
          case "AAAA" => if (r.nextInt(10) == 0) Nil else Seq("AAAA" -> s"2001:db8::${rank % 65536}")
          case _ => if (r.nextInt(5) == 0) Nil else Seq("CNAME" -> s"alias.${site(rank)}")
        }
      sb.append("{\"Domain\":\"").append(dom).append("\",\"Timestamp\":").append(ts)
        .append(",\"ServerIP\":\"").append(server).append("\",\"ClientIP\":\"").append(client)
        .append("\",\"QR\":").append(qr).append(",\"Type\":\"").append(tpe)
        .append("\",\"ResponseCode\":").append(if (nullCode) "null" else code.toString)
        .append(",\"Answers\":[")
      answers.zipWithIndex.foreach { case ((t, v), i) =>
        if (i > 0) sb.append(',')
        sb.append("{\"Type\":\"").append(t).append("\",\"Value\":\"").append(v).append("\"}")
      }
      sb.append("]}")
      // malformed lines: broken before the first field parses, so no
      // partial record survives; missing Domain: the field is renamed
      val line = drop match {
        case d if d < 42 => "{\"Domain\"" + sb.substring(10, 20)
        case d if d < 45 => sb.toString.replace("\"Domain\":", "\"Host\":")
        case _ => sb.toString
      }
      out.write(line); out.write('\n')
      if (drop >= 45) {
        kept += 1
        val aip = answers.collectFirst { case ("A", v) if tpe == "A" => v }.getOrElse("0.0.0.0")
        val error = if (code != 0 || answers.isEmpty || aip == "0.0.0.0") 1L else 0L
        for (k <- Seq(0, cn)) {
          val c = clear.getOrElseUpdate(k, Array(0L, 0L)); c(0) += 1; c(1) += error
          byType((k, tpe)) = byType.getOrElse((k, tpe), 0L) + 1
          byCode((k, code)) = byCode.getOrElse((k, code), 0L) + 1
          perCode.getOrElseUpdate((k, code), mutable.HashSet()) += dom
        }
        if (cn == 1 && userIps(client))
          userGroups((client, dom, aip)) = userGroups.getOrElse((client, dom, aip), 0L) + 1
        trend((cn, dom, aip)) = trend.getOrElse((cn, dom, aip), 0L) + 1
        base((cn, dom, server, aip)) = base.getOrElse((cn, dom, server, aip), 0L) + 1
      }
    } finally out.close()
    val tr = trend.valuesIterator.filter(_ > TrendThreshold).toSeq
    val eligible = base.iterator.filter { case ((_, d, _, _), n) =>
      n + (if (whitelistDomains(d)) WhitelistBoost else 0) >= TopDetailMinResolver
    }.map(_._2).toSeq
    Tally(w, startMs, lines, kept,
      clear.map { case (k, a) => k -> (a(0), a(1)) }.toMap, byType.toMap, byCode.toMap,
      tr.size, tr.sum, math.min(eligible.size, TopDetailK).toLong,
      if (eligible.size < TopDetailK) eligible.sum else -1L,
      perCode.valuesIterator.map(d => math.min(d.size, PerCodeK).toLong).sum,
      math.min(userGroups.valuesIterator.count(_ > TopUserMinResolver), TopUsersK).toLong)
  }

  /** Writes the eight dimension tables as single-file parquet under `dir`
    * (`dir/<name>/part-00000.parquet`), with fixed file names so the bytes
    * on disk are a function of the seed. Rows are built in memory with
    * an explicit schema (no reflection-derived encoders). */
  def writeDims(spark: SparkSession, dir: Path): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val tables = mutable.ArrayBuffer[(String, String, () => Seq[Product])]()
    def save(name: String, ddl: String)(rows: => Seq[Product]): Unit =
      tables += ((name, ddl, () => rows))
    def write(name: String, ddl: String, rows: Seq[Product]): Unit = {
      val out = dir.resolve(name)
      spark.createDataFrame(rows.map(Row.fromTuple).asJava, StructType.fromDDL(ddl))
        .coalesce(1).write.mode("overwrite").parquet(out.toString)
      val listing = Files.list(out)
      try listing.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.move(p, out.resolve("part-00000.parquet"))
        else Files.delete(p)
      } finally listing.close()
    }
    val range = "min_long_ip BIGINT, max_long_ip BIGINT"
    save("client_rules", s"$range, client_type_id INT") {
      (0 until ClientRules).map(i =>
        (clientBase + i * 2048L, clientBase + i * 2048L + 1023, clientRuleType(i)))
    }
    val bizKinds = Array("cdn", "idc", "cloud", "cache")
    save("business_rules", s"$range, resource_name STRING, resource_type STRING, resource_props STRING") {
      (0 until BusinessRules).map { i =>
        val lo = bizBase + i * 512L
        (lo, lo + 255, s"res$i", bizKinds(i % 4), s"prop${i % 13}")
      }
    }
    save("media_rules", range) {
      (0 until MediaRules).map { i => val lo = mediaBase + i * 1024L; (lo, lo + 255) }
    }
    val companyTypes = Array("电商", "视频", "游戏", "资讯", "社交")
    save("auth_domains", "authorityDomain STRING, companyName STRING, companyType STRING, " +
        "websiteName STRING, websiteType STRING, soft STRING") {
      (0 until AuthDomains).map { r =>
        (site(r), s"公司${r % 5000}", companyTypes(r % 5), s"站点$r",
          companyTypes((r / 5) % 5), s"app${r % 300}")
      }
    }
    save("whitelist", "domain STRING")(whitelistRanks.toSeq.sorted.map(r => Tuple1(domain(r))))
    save("users", "clientIp STRING, userName STRING")(users.map(j => (clients(j)._1, s"u$j")))
    save("user_info", "userName STRING, address STRING, phone STRING") {
      users.filter(_ % 5 != 0).map(j => (s"u$j", s"addr$j", f"13${j % 1000000000}%09d"))
    }
    save("geo", s"$range, country STRING, province STRING, city STRING, operator STRING") {
      val r = rng(2)
      val provinces = Array("浙江", "江苏", "广东", "北京", "上海", "香港", "台湾", "四川")
      val operators = Array("中国电信", "中国联通", "中国移动", "教育网")
      (0 until GeoRanges).map { i =>
        val lo = geoLo + i * geoWidth
        val abroad = r.nextInt(10) == 0
        val p = provinces(r.nextInt(provinces.length))
        (lo, lo + geoWidth - 1, if (abroad) "美国" else "中国",
          if (abroad) "加州" else p, if (r.nextBoolean()) p else s"${p}市",
          operators(r.nextInt(operators.length)))
      }
    }
    parallel(4)(tables.toSeq.map { case (n, ddl, rows) => () => write(n, ddl, rows()) })
  }
}

object Gen {
  val Domains = 100000
  val ZipfS = 1.0
  val ClientRules = 2000
  val ClientPool = 200000
  val HeavyUsers = 20
  val HeavyPerMille = 30
  val BusinessRules = 5000
  val MediaRules = 1000
  val AuthDomains = 20000
  val Whitelist = 200
  val Users = 50000
  val GeoRanges = 100000
  val Servers = 16

  // BatchRunner.run defaults the tallies are computed for
  val TrendThreshold = 100L
  val TopDetailK = 70000
  val TopDetailMinResolver = 10L
  val WhitelistBoost = 10L
  val PerCodeK = 5000
  val TopUsersK = 2000
  val TopUserMinResolver = 50L

  val WindowMs = 300000L
  /** Window `w` of every workload starts here + w * 5 minutes. */
  val Epoch0 = 1616630400000L // 2021-03-25 00:00 UTC

  def ipOf(a: Int, b: Int, c: Int, d: Int): Long =
    (a.toLong << 24) | (b << 16) | (c << 8) | d
  def longToIp(n: Long): String =
    s"${(n >>> 24) & 255}.${(n >>> 16) & 255}.${(n >>> 8) & 255}.${n & 255}"
  /** Runs `bodies` on `n` threads created for this call; rethrows the
    * first failure. */
  def parallel[T](n: Int)(bodies: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence(bodies.map(b => Future(b()))), Duration(10, "minutes"))
    } finally pool.shutdownNow()
  }
  /** splitmix64 finalizer: a fixed hash for per-domain attributes. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    (x ^ (x >>> 31)) & Long.MaxValue
  }
}
