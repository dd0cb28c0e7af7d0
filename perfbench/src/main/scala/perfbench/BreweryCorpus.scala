package perfbench

import graft.ops.Cleaning
import graft.sources.BrewerySource
import org.apache.spark.sql.types._

import java.util.Locale
import java.util.SplittableRandom

/** Seeded brewery corpus in the reference API's shape (Open Brewery DB
  * `/v1/breweries` rows), served as JSON pages.
  *
  * Properties (see NOTES.md):
  *  - one country (`United States`) holds about 90% of the rows, so the
  *    silver `partitionBy(location)` is skewed;
  *  - about 2% of rows have exactly one null key field (`id`,
  *    `brewery_type`, `state`, `city` or `country`) and belong in
  *    quarantine;
  *  - `brewery_type` is drawn from `Cleaning.StandardBreweryTypes` with
  *    upper-case and padding noise, a few unknown values and the planted
  *    nulls;
  *  - `website_url` covers the four normalization branches (null, blank,
  *    no scheme, http/https);
  *  - cities come from a fixed vocabulary of a few thousand names, written
  *    with case noise.
  *
  * The city vocabulary is fixed; the seed drives which rows are drawn.
  * The expected gold `by_location` counts are computed here, from the
  * generator's own draws, so the pipeline's output can be checked against
  * a count that never went through Spark.
  */
object BreweryCorpus {

  val PerPage = 200

  /** The JSON read schema, in the reference API's field names. */
  val Schema: StructType = StructType(Seq(
    "id", "name", "brewery_type", "address_1", "address_2", "address_3",
    "city", "state_province", "postal_code", "country").map(
      StructField(_, StringType)) ++ Seq(
    StructField("longitude", DoubleType), StructField("latitude", DoubleType),
    StructField("phone", StringType), StructField("website_url", StringType),
    StructField("state", StringType), StructField("street", StringType)))

  /** (location, state, city) after the pipeline's upper-casing. */
  type LocationKey = (String, String, String)

  final case class Corpus(
      pages: IndexedSeq[String],
      rows: Long,
      nullKeyRows: Long,
      byLocation: Map[LocationKey, Long]) {
    def validRows: Long = rows - nullKeyRows
  }

  private val UnknownTypes = Array("taproom", "cidery", "location", "beergarden")

  /** Weighted draw over `StandardBreweryTypes`, weights roughly like the
    * real directory (micro and brewpub dominate).
    */
  private val TypeWeights: Array[(String, Double)] = {
    val w = Map("micro" -> 45.0, "brewpub" -> 25.0, "planning" -> 7.0,
      "regional" -> 5.0, "contract" -> 4.0, "closed" -> 4.0, "large" -> 3.0,
      "proprietor" -> 2.0, "nano" -> 2.0, "bar" -> 1.0)
    require(w.keySet == Cleaning.StandardBreweryTypes,
      "type weights must cover exactly the reference vocabulary")
    w.toArray.sortBy(_._1)
  }

  /** (country, state count, cities per state, weight). The United States
    * carries 90% of the weight.
    */
  private val Countries: Array[(String, Int, Int, Double)] = Array(
    ("United States", 50, 64, 90.0), ("England", 8, 24, 2.0),
    ("Ireland", 4, 20, 1.5), ("Scotland", 4, 16, 1.0),
    ("South Korea", 6, 12, 1.0), ("Austria", 6, 10, 1.0),
    ("Germany", 8, 16, 1.0), ("Poland", 6, 10, 0.8),
    ("Portugal", 4, 10, 0.7), ("France", 6, 12, 0.6),
    ("Isle of Man", 1, 6, 0.4))

  private val Syllables = Array("ash", "bel", "cor", "dun", "el", "fal",
    "gren", "hal", "ist", "jor", "kel", "lan", "mor", "nor", "ost", "pel",
    "quin", "ros", "sal", "tor", "ul", "val", "wes", "yar", "zen")

  private def word(r: SplittableRandom, parts: Int): String = {
    val b = new StringBuilder
    for (_ <- 0 until parts) b.append(Syllables(r.nextInt(Syllables.length)))
    b.setCharAt(0, b.charAt(0).toUpper)
    b.toString
  }

  /** Fixed vocabulary: per country, its states, and per state its cities. */
  private lazy val Vocabulary: Array[(String, Array[(String, Array[String])])] = {
    val r = new SplittableRandom(20260101L)
    Countries.map { case (country, nStates, nCities, _) =>
      val states = (0 until nStates).map { s =>
        val cities = (0 until nCities).map(c => s"${word(r, 2)} ${word(r, 1)}$c").toArray
        (s"${word(r, 2)}$s", cities)
      }.toArray
      (country, states)
    }
  }

  private val CountryCdf: Array[Double] = cdf(Countries.map(_._4))
  private val TypeCdf: Array[Double] = cdf(TypeWeights.map(_._2))

  private def cdf(w: Array[Double]): Array[Double] = {
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def pick(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var i = 0
    while (i < cdf.length - 1 && u >= cdf(i)) i += 1
    i
  }

  /** Skewed index in [0, n): low indices are drawn far more often, so a
    * few cities per state hold most of its breweries.
    */
  private def skewed(n: Int, r: SplittableRandom): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  private def caseNoise(s: String, r: SplittableRandom): String =
    r.nextInt(10) match {
      case 0 => s.toUpperCase(Locale.ROOT)
      case 1 => s.toLowerCase(Locale.ROOT)
      case _ => s
    }

  private def jsonString(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }

  private def coordinate(d: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(d))

  private def typeValue(r: SplittableRandom): String = {
    if (r.nextInt(100) < 3) return UnknownTypes(r.nextInt(UnknownTypes.length))
    val t = TypeWeights(pick(TypeCdf, r))._1
    r.nextInt(100) match {
      case n if n < 8 => t.toUpperCase(Locale.ROOT)
      case n if n < 16 => s"  $t "
      case _ => t
    }
  }

  private def website(slug: String, r: SplittableRandom): String =
    r.nextInt(100) match {
      case n if n < 25 => null
      case n if n < 30 => ""
      case n if n < 35 => "   "
      case n if n < 60 => s"www.$slug.com"
      case n if n < 80 => s"http://www.$slug.com"
      case _ => s"https://$slug.example"
    }

  def generate(seed: Long, rows: Int): Corpus = {
    require(rows > 0, "the corpus needs at least one row")
    val r = new SplittableRandom(seed)
    val byLocation = scala.collection.mutable.HashMap.empty[LocationKey, Long]
    var nullKeys = 0L
    val pages = IndexedSeq.newBuilder[String]
    val page = new StringBuilder
    var inPage = 0
    for (i <- 0 until rows) {
      val ci = pick(CountryCdf, r)
      val (country, states) = Vocabulary(ci)
      val (state, cities) = states(skewed(states.length, r))
      val city = cities(skewed(cities.length, r))
      val name = s"${word(r, 2)} ${if (r.nextBoolean()) "Brewing" else "Brewery"}"
      val slug = name.toLowerCase(Locale.ROOT).replace(" ", "")
      // exactly one key field is nulled on a planted row
      val nullField = if (r.nextInt(1000) < 20) r.nextInt(5) else -1
      val id = f"${r.nextLong()}%016x-${i}%07d"
      val cityOut = caseNoise(city, r)
      val stateOut = caseNoise(state, r)
      val fields = Seq(
        "id" -> jsonString(if (nullField == 0) null else id),
        "name" -> jsonString(name),
        "brewery_type" -> jsonString(if (nullField == 1) null else typeValue(r)),
        "address_1" -> jsonString(s"${100 + r.nextInt(9900)} ${word(r, 2)} St"),
        "address_2" -> "null",
        "address_3" -> "null",
        "city" -> jsonString(if (nullField == 3) null else cityOut),
        "state_province" -> jsonString(stateOut),
        "postal_code" -> jsonString(f"${r.nextInt(100000)}%05d"),
        "country" -> jsonString(if (nullField == 4) null else country),
        "longitude" -> coordinate(r.nextDouble() * 360 - 180),
        "latitude" -> coordinate(r.nextDouble() * 180 - 90),
        "phone" -> (if (r.nextInt(4) == 0) "null" else jsonString(f"${r.nextLong() & 0x7fffffffL}%010d")),
        "website_url" -> jsonString(website(slug, r)),
        "state" -> jsonString(if (nullField == 2) null else stateOut),
        "street" -> jsonString(s"${word(r, 2)} St"))
      if (nullField >= 0) nullKeys += 1
      else {
        val key = (country.toUpperCase(Locale.ROOT), state.toUpperCase(Locale.ROOT),
          city.toUpperCase(Locale.ROOT))
        byLocation(key) = byLocation.getOrElse(key, 0L) + 1
      }
      page.append(if (inPage == 0) '[' else ',')
      page.append(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      inPage += 1
      if (inPage == PerPage || i == rows - 1) {
        pages += page.append(']').toString
        page.clear()
        inPage = 0
      }
    }
    Corpus(pages.result(), rows, nullKeys, byLocation.toMap)
  }

  /** Serves the pre-built pages; a page past the end is empty. */
  final class Source(corpus: Corpus) extends BrewerySource {
    def fetchPage(page: Int, perPage: Int): String = {
      require(perPage == PerPage, s"the corpus is paged by $PerPage rows")
      if (page >= 1 && page <= corpus.pages.length) corpus.pages(page - 1) else "[]"
    }
  }
}
