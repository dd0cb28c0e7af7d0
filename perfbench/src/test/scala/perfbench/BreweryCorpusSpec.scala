package perfbench

import graft.ops.Cleaning
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale

class BreweryCorpusSpec extends AnyFunSuite {

  private val rows = 20000
  private lazy val a = BreweryCorpus.generate(7L, rows)

  test("the same seed gives byte-identical pages") {
    val b = BreweryCorpus.generate(7L, rows)
    assert(a.pages == b.pages)
    assert(a.byLocation == b.byLocation)
  }

  test("a different seed gives different pages") {
    val c = BreweryCorpus.generate(8L, rows)
    assert(c.pages.length == a.pages.length)
    assert(a.pages.zip(c.pages).forall { case (x, y) => x != y })
  }

  test("pages hold 200 rows each; the expected counts cover every valid row") {
    assert(a.pages.length == rows / BreweryCorpus.PerPage)
    assert(a.pages.forall(_.count(_ == '{') == BreweryCorpus.PerPage))
    assert(a.byLocation.values.sum == a.validRows)
  }

  /** Values of one JSON string field, null for JSON null. */
  private def field(name: String): Seq[String] = {
    val re = ("\"" + name + "\":(null|\"([^\"]*)\")").r
    a.pages.flatMap(p => re.findAllMatchIn(p).map(m => m.group(2)))
  }

  test("about 2% of rows carry a null key field") {
    val share = a.nullKeyRows.toDouble / rows
    assert(share > 0.015 && share < 0.025, share)
    val nullKeys = Seq("id", "brewery_type", "state", "city", "country")
      .map(f => field(f).count(_ == null)).sum
    assert(nullKeys == a.nullKeyRows)
  }

  test("one country holds about 90% of rows") {
    val countries = field("country").filter(_ != null)
    val us = countries.count(_ == "United States").toDouble / countries.size
    assert(us > 0.88 && us < 0.92, us)
  }

  test("brewery_type uses the reference vocabulary with noise") {
    val types = field("brewery_type").filter(_ != null)
    val norm = types.map(_.trim.toLowerCase(Locale.ROOT))
    val known = norm.count(Cleaning.StandardBreweryTypes.contains).toDouble / types.size
    assert(known > 0.95 && known < 0.99, known)
    assert(types.exists(t => t != t.trim))
    assert(types.exists(t => t != t.toLowerCase(Locale.ROOT)))
    assert(Cleaning.StandardBreweryTypes.forall(norm.contains))
  }

  test("website_url covers null, blank, no-scheme and http(s) values") {
    val urls = field("website_url")
    assert(urls.contains(null))
    assert(urls.exists(u => u != null && u.trim.isEmpty))
    assert(urls.exists(u => u != null && u.startsWith("www.")))
    assert(urls.exists(u => u != null && u.startsWith("http://")))
    assert(urls.exists(u => u != null && u.startsWith("https://")))
  }

  test("cities number in the thousands") {
    assert(a.byLocation.size > 1000, a.byLocation.size)
  }
}
