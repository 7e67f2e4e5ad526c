package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Shared runtime for the native infer_type expression: one pass over
  * the UTF8 bytes, no regex machinery, no boxing. Semantics identical
  * to TypeInference.inferType (= the reference's get_type,
  * /root/reference/XMLToCSV.py:246-281).
  */
object InferTypeRuntime {

  private val ANY = UTF8String.fromString(TypeInference.TAny)
  private val INTEGER = UTF8String.fromString(TypeInference.TInteger)
  private val FLOAT = UTF8String.fromString(TypeInference.TFloat)
  private val DATE = UTF8String.fromString(TypeInference.TDate)
  private val DATETIME = UTF8String.fromString(TypeInference.TDatetime)
  private val BOOLEAN = UTF8String.fromString(TypeInference.TBoolean)
  private val STRING = UTF8String.fromString(TypeInference.TString)

  def infer(v: UTF8String): UTF8String = {
    if (v == null || v.numBytes() == 0) return ANY
    val s = v.toString
    val n = s.length
    var allDigits = true
    var i = 0
    while (i < n && allDigits) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') allDigits = false
      i += 1
    }
    if (allDigits) return INTEGER
    if (isFloat(s)) return FLOAT
    if (isDateShape(s) && validDate(s)) return DATE
    if (isDatetimeShape(s) && validDatetime(s)) return DATETIME
    if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")) return BOOLEAN
    STRING
  }

  private def isFloat(s: String): Boolean = {
    val dot = s.indexOf('.')
    if (dot <= 0 || dot == s.length - 1 || s.indexOf('.', dot + 1) >= 0) return false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (i != dot && (c < '0' || c > '9')) return false
      i += 1
    }
    true
  }

  private def digitsAt(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true
  }

  private def isDateShape(s: String): Boolean =
    s.length == 10 && s.charAt(4) == '-' && s.charAt(7) == '-' &&
      digitsAt(s, 0, 4) && digitsAt(s, 5, 7) && digitsAt(s, 8, 10)

  private def isDatetimeShape(s: String): Boolean =
    (s.length == 16 || s.length == 19) &&
      s.charAt(4) == '-' && s.charAt(7) == '-' && s.charAt(10) == ' ' && s.charAt(13) == ':' &&
      digitsAt(s, 0, 4) && digitsAt(s, 5, 7) && digitsAt(s, 8, 10) &&
      digitsAt(s, 11, 13) && digitsAt(s, 14, 16) &&
      (s.length == 16 || (s.charAt(16) == ':' && digitsAt(s, 17, 19)))

  private def validYmd(y: Int, m: Int, d: Int): Boolean =
    m >= 1 && m <= 12 && d >= 1 &&
      d <= java.time.YearMonth.of(y, m).lengthOfMonth()

  private def validDate(s: String): Boolean =
    validYmd(s.substring(0, 4).toInt, s.substring(5, 7).toInt, s.substring(8, 10).toInt)

  private def validDatetime(s: String): Boolean = {
    if (!validDate(s.substring(0, 10))) return false
    val h = s.substring(11, 13).toInt
    val mi = s.substring(14, 16).toInt
    val sec = if (s.length == 19) s.substring(17, 19).toInt else 0
    h <= 23 && mi <= 59 && sec <= 59
  }
}

/** Native Catalyst expression for value-type classification: a single
  * byte-scan per value, fully inside whole-stage codegen via a static
  * call — no regex automata, no try_cast subtrees, no UDF
  * serialization. The declarative `when`-chain in
  * [[TypeInference.inferType]] is semantically identical; this exists
  * for the hot schema-annotation path where the chain's five regex
  * evaluations per value dominate.
  */
case class InferType(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "infer_type"

  override def eval(input: InternalRow): Any =
    InferTypeRuntime.infer(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // Call the companion's static forwarder (javap: public static UTF8String
    // infer(UTF8String) on the InferTypeRuntime class) — janino cannot
    // resolve the Scala MODULE$ field.
    val runtime = InferTypeRuntime.getClass.getName.stripSuffix("$")
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value} = $runtime.infer(${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = false;
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): InferType =
    copy(child = newChild)
}

/** Session extension registering the engine's native functions —
  * `spark.sql("SELECT infer_type(c) ...")` works in any session built
  * with `.withExtensions(new GraftExtensions)` (as [[graft.Session]]
  * does) or `spark.sql.extensions=graft.functions.GraftExtensions`,
  * and in every `newSession()` child of such a session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("infer_type", classOf[InferType], children => InferType(children.head)),
    fn("shingle_hashes", classOf[ShingleHashes], MinHash.shingleHashesBuilder),
    fn("window_hashes", classOf[WindowHashes], MinHash.windowHashesBuilder),
    fn("minhash_sig", classOf[MinHashSig], MinHash.minhashSigBuilder),
    fn("lsh_band_keys", classOf[LshBandKeys], MinHash.lshBandKeysBuilder),
    fn("simhash64", classOf[SimHash64], MinHash.simhash64Builder),
    fn("portable_minhash_sig", classOf[PortableMinhashSig], MinHash.portableMinhashSigBuilder),
    fn("simhash60_md5", classOf[SimHash60Md5], MinHash.simhash60md5Builder),
    fn("vec_dot", classOf[VecDot], VecOps.vecDotBuilder),
    fn("vec_quantize_int8", classOf[VecQuantizeInt8], VecOps.vecQuantizeInt8Builder),
    fn("vec_fixed_point", classOf[VecFixedPoint], VecOps.vecFixedPointBuilder),
    fn("vec_nearest_centroid", classOf[VecNearestCentroid], VecOps.vecNearestCentroidBuilder),
    fn("pq_lut", classOf[PqLut], VecOps.pqLutBuilder),
    fn("pq_adc", classOf[PqAdc], VecOps.pqAdcBuilder),
    fn("rolling_hash64", classOf[RollingHash64], TextOps.rollingHash64Builder),
    fn("adjacent_pairs", classOf[AdjacentPairs], TextOps.adjacentPairsBuilder),
    fn("cdc_chunks", classOf[CdcChunks], TextOps.cdcChunksBuilder),
    fn("char_hist_stats", classOf[CharHistStats], TextOps.charHistStatsBuilder),
    fn("nfc_normalize", classOf[NfcNormalize], children => NfcNormalize(children.head)),
    fn("strip_accents", classOf[StripAccents], children => StripAccents(children.head)),
    fn("zorder2", classOf[ZOrder2], LayoutOps.zorder2Builder),
    fn("bloom_might_contain", classOf[BloomMightContain], BloomOps.bloomMightContainBuilder),
    fn("heavy_hitters", classOf[HeavyHitters], Sketch.heavyHittersBuilder),
    fn("cms_sketch", classOf[CmsSketch], Sketch.cmsSketchBuilder),
    fn("cms_query", classOf[CmsQuery], Sketch.cmsQueryBuilder),
    fn("pos_slot_intersect_count", classOf[PosSlotIntersectCount], PosOps.posSlotIntersectCountBuilder),
    fn("pos_pair_count", classOf[PosPairCount], PosOps.posPairCountBuilder))
}
