package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Guards the SparkEntry registry. Its views are built with `toMap`,
  * which silently keeps the LAST binding for a duplicated name, so two
  * keys with one name would shadow one implementation (and its oracle)
  * without any compile- or run-time signal. This spec makes that failure
  * loud, pins which keys are rows-only, and checks the name lookup and
  * the oracle dump the driver reads. */
class RegistrySpec extends AnyFunSuite {

  test("no query key is defined by two modules (merge would shadow one)") {
    val dups = SparkEntry.keys.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicated keys: ${dups.toSeq.sorted.mkString(", ")}")
    assert(SparkEntry.queries.size == SparkEntry.keys.size)
  }

  test("exactly the seven rows-only keys have no oracle") {
    val rowsOnly = SparkEntry.keys.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("text_fingerprint_fast", "dedup_embed_ivf",
      "dedup_minhash_fast", "embed_pca", "embed_whiten", "quality_lr_score",
      "text_bpe"))
  }

  test("key names are lower_snake (driver-safe, shell-safe)") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-snake keys: $bad")
  }

  test("lookup returns the named keys in order and names every unknown one") {
    assert(SparkEntry.lookup(Seq("text_bm25", "flagship_revenue"))
      .map(_.name) == Seq("text_bm25", "flagship_revenue"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.lookup(Seq("typo_key", "text_bm25", "flagship_revnue")))
    assert(e.getMessage == "unknown key(s): typo_key, flagship_revnue")
  }

  test("oracle_sql.json parses back to exactly SparkEntry.oracleSql, sorted") {
    val fields = new ObjectMapper().readTree(Verify.oracleJson)
      .properties().asScala.toSeq
    val names = fields.map(_.getKey)
    assert(names == names.sorted)
    assert(fields.forall(_.getValue.isTextual))
    assert(fields.map(f => f.getKey -> f.getValue.asText).toMap ==
      SparkEntry.oracleSql)
    assert(fields.size == 449)
  }

  // A change that means to alter an oracle updates this digest and says
  // which oracles it changed; a refactor of the oracle text leaves it.
  test("the oracle texts hash to the pinned SHA-256") {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    // each name and text in name order, each followed by a NUL byte
    SparkEntry.oracleSql.toSeq.sorted.foreach { case (name, sql) =>
      Seq(name, sql).foreach { t =>
        sha.update(t.getBytes("UTF-8")); sha.update(0.toByte) }
    }
    assert(sha.digest().map(b => f"$b%02x").mkString ==
      "c040799acd47d87d9e0bab5c2eb0828b4d7c165c2a4f00baf496b166714912bf")
  }
}
