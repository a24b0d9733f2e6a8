package graft

import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` alone makes the engine's
  * SQL function family resolve: checked on a fresh session whose function
  * registry `GraftFunctions.registerAll` never touched. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("the extension injects the function family without registerAll") {
    val fresh = SparkSpec.spark.newSession()
    // format_size comes only from registerAll: this registry is untouched
    assert(!fresh.catalog.functionExists("format_size"))
    val h = fresh.sql("SELECT poly_hash('ab') AS h").head().getLong(0)
    assert(h == ('a'.toLong * 131 + 'b') % 1000000007L)
    val fam = fresh.sql(
      """SELECT size(minhash_sig(split('a b c d', ' '))),
        |       simhash_sig(split('a b', ' ')),
        |       size(winnow_fingerprints(split('a b c d e f', ' '))),
        |       long_dot(array(2L, 3L), array(4L, 5L)),
        |       double_dot(array(1.0d), array(2.5d)),
        |       nfc_normalize('cafe\u0301') = 'caf\u00e9'""".stripMargin).head()
    assert(fam.getInt(0) == 8)
    assert(!fam.isNullAt(1))
    assert(fam.getInt(2) == 1)
    assert(fam.getLong(3) == 23L)
    assert(fam.getDouble(4) == 2.5)
    assert(fam.getBoolean(5))
  }
}
