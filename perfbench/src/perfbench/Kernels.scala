package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.chem.Chem
import graft.expr.{Cdc, StringSim, TextHash, TextNorm}

/** Per-call cost of the custom kernels, called directly on sf0.1 inputs:
  * `documents.text` for the text kernels, `part.p_name` pairs for
  * Jaro-Winkler, and `Chem.fromSeed` SMILES over `part.p_partkey` for
  * the chemistry. Separates kernel time from Spark runtime time. */
object Kernels {
  final case class Timing(name: String, unit: String, perCall: Double, calls: Long)

  /** Runs each kernel over its inputs, whole sweeps, for at least `minSec`. */
  def run(spark: SparkSession, dataDir: String, minSec: Double): Seq[Timing] = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$dataDir/documents.parquet")
      .select($"text").as[String].collect().filter(_ != null)
    val utf = texts.map(UTF8String.fromString)
    val tokens = texts.map(t => new GenericArrayData(
      t.split("\\s+").filter(_.nonEmpty).map(w => UTF8String.fromString(w): Any)))
    val names = spark.read.parquet(s"$dataDir/part.parquet")
      .select($"p_name").as[String].collect().map(UTF8String.fromString)
    val keys = spark.read.parquet(s"$dataDir/part.parquet")
      .select($"p_partkey").as[Long].collect().sorted.take(2000)
    val smiles = keys.zipWithIndex.map { case (k, i) => Chem.fromSeed(k, i % 3) }
    val carboxyl = Chem.aromatize(Chem.parse("C(=O)O"))

    var sink = 0L
    def time(name: String, unit: String, n: Int)(call: Int => Long): Timing = {
      val scale = if (unit == "us") 1e3 else 1.0
      var calls = 0L
      val t0 = System.nanoTime()
      var dt = 0L
      while (dt < minSec * 1e9) {
        var i = 0
        while (i < n) { sink += call(i); i += 1 }
        calls += n
        dt = System.nanoTime() - t0
      }
      Timing(name, unit, dt / scale / calls, calls)
    }
    val out = Seq(
      time("fnv64", "ns", utf.length)(i => TextHash.fnv64(utf(i))),
      time("poly61", "ns", utf.length)(i => TextHash.poly61(utf(i))),
      time("word_gram_poly61", "ns", tokens.length)(i =>
        TextHash.wordGramPoly61(tokens(i), 5).numElements().toLong),
      time("simhash64", "ns", tokens.length)(i => TextHash.simhash64(tokens(i))),
      time("jaro_winkler", "ns", names.length - 1)(i =>
        java.lang.Double.doubleToLongBits(StringSim.jaroWinkler(names(i), names(i + 1)))),
      time("cdc_boundaries", "ns", utf.length)(i => Cdc.boundaries(utf(i)).numElements().toLong),
      time("nfc", "ns", texts.length)(i => TextNorm.nfc(texts(i)).length.toLong),
      // Chem.canonical, morganFp and hasSubstructure memoize per JVM, so
      // repeated sweeps would time map lookups; these are their miss paths
      time("chem_canonical", "us", smiles.length)(i =>
        Chem.canonicalGraph(Chem.normalize(Chem.parse(smiles(i)))).length.toLong),
      time("morgan_fp", "us", smiles.length)(i =>
        Chem.morganFpGraph(Chem.normalize(Chem.parse(smiles(i)))).length.toLong),
      time("substructure", "us", smiles.length)(i =>
        if (Chem.substructureGraph(Chem.normalize(Chem.parse(smiles(i))), carboxyl)) 1L else 0L))
    if (sink == 42L) System.err.println("") // keeps the results live
    out
  }
}
