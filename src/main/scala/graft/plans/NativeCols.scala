package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-DSL entry points for the native expressions — bridges a
  * catalyst `Expression` into the public `Column` API via
  * [[ColumnBridge]] (Spark 4 keeps the converter in
  * `sql.classic.ExpressionUtils`; same mechanism the built-in
  * `functions` object uses).
  */
object NativeCols {
  private def ex(c: Column): Expression = ColumnBridge.expression(c)
  private def cl(e: Expression): Column = ColumnBridge.column(e)

  /** Codegen cosine similarity (see [[CosineSimExpression]]). */
  def cosineSim(a: Column, b: Column): Column =
    cl(CosineSimExpression(ex(a), ex(b)))

  /** Codegen ASCII char-set bitmap (see [[CharMaskExpression]]). */
  def charMask(text: Column): Column = cl(CharMaskExpression(ex(text)))

  /** Codegen sign-LSH bucket key (see [[LshBucketExpression]]). */
  def lshBucket(vec: Column, numPlanes: Int): Column =
    cl(LshBucketExpression(ex(vec), numPlanes))

  /** Codegen word n-gram shingles (see [[WordShinglesExpression]]). */
  def wordShingles(text: Column, n: Int): Column =
    cl(WordShinglesExpression(ex(text), n))

  /** Codegen repetition features (see [[RepetitionStatsExpression]]). */
  def repetitionStats(text: Column): Column =
    cl(RepetitionStatsExpression(ex(text)))

  /** Codegen content-defined chunking (see [[CdcChunksExpression]]). */
  def cdcChunks(text: Column, window: Int, divisor: Int,
      useMd5: Boolean): Column =
    cl(CdcChunksExpression(ex(text), window, divisor, useMd5))

  /** Codegen hashed-gram feature buckets
    * (see [[HashedGramBucketsExpression]]). */
  def hashedGramBuckets(text: Column, dim: Int, bigrams: Boolean): Column =
    cl(HashedGramBucketsExpression(ex(text), dim, bigrams))

  /** Codegen BPE token count (see [[BpeTokenCountExpression]]). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    cl(BpeTokenCountExpression(ex(text), merges))

  /** Codegen positioned word n-grams
    * (see [[PositionedGramsExpression]]). */
  def positionedGrams(text: Column, n: Int): Column =
    cl(PositionedGramsExpression(ex(text), n))

  /** Codegen winnowing fingerprint selection
    * (see [[WinnowFingerprintsExpression]]). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    cl(WinnowFingerprintsExpression(ex(text), k, w))

  /** Codegen span excision (see [[ExcisePositionsExpression]]). */
  def excisePositions(text: Column, cuts: Column): Column =
    cl(ExcisePositionsExpression(ex(text), ex(cuts)))

  /** Codegen md5-plane multi-table LSH keys
    * (see [[Md5LshKeysExpression]]). */
  def md5LshKeys(vec: Column, dim: Int, numPlanes: Int,
      numTables: Int): Column =
    cl(Md5LshKeysExpression(ex(vec), dim, numPlanes, numTables))

  /** Codegen 60-bit md5 SimHash (see [[SimHashMd5Expression]]). */
  def simhashMd5(text: Column): Column = cl(SimHashMd5Expression(ex(text)))

  /** Codegen 63-bit perceptual media dHash
    * (see [[DHashMd5Expression]]). */
  def dhashMd5(media: Column): Column = cl(DHashMd5Expression(ex(media)))

  /** Codegen wal2json change → merge events
    * (see [[DecodeEventsExpression]]). */
  def decodeEvents(change: Column, pkCols: Seq[String]): Column =
    cl(DecodeEventsExpression(ex(change), pkCols))

  /** Codegen distinct folded char-bit ids (see [[CharBitsExpression]]). */
  def charBits(text: Column): Column = cl(CharBitsExpression(ex(text)))

  /** Codegen Unicode NFC normalization
    * (see [[NfcNormalizeExpression]]). */
  def nfcNormalize(text: Column): Column = cl(NfcNormalizeExpression(ex(text)))

  /** Codegen exact integer dot product (see [[DotLongExpression]]). */
  def dotLong(a: Column, b: Column): Column =
    cl(DotLongExpression(ex(a), ex(b)))

  /** Codegen floor(x·scale) quantization
    * (see [[QuantizeLongExpression]]). */
  def quantizeLong(vec: Column, scale: Int): Column =
    cl(QuantizeLongExpression(ex(vec), scale))

  /** Codegen SQ encode (see [[SqEncodeExpression]]). */
  def sqEncode(qv: Column, st: Column, levels: Int): Column =
    cl(SqEncodeExpression(ex(qv), ex(st), levels))

  /** Codegen SQ reconstruction (see [[SqReconstructExpression]]). */
  def sqReconstruct(codes: Column, st: Column, levels: Int): Column =
    cl(SqReconstructExpression(ex(codes), ex(st), levels))

  /** Codegen phase-1 skew-collapse partial
    * (see [[CollapsePartialExpression]]). */
  def collapsePartial(events: Column): Column =
    cl(CollapsePartialExpression(ex(events)))

  /** Codegen phase-2 partial composition
    * (see [[ComposePartialsExpression]]). */
  def composePartials(parts: Column): Column =
    cl(ComposePartialsExpression(ex(parts)))
}
