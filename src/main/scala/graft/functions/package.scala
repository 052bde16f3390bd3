package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.{CharBigramPhash, CosineSimilarity, GraftColumns, GramBuckets, L2Sq, MinHashSig, Murmur3Token, PosGramHashes, RingPartitionsTable, ShingleHashes, SimHashSig, TopicLagTable, TopicListTable, TopicOffsetsForTimeTable, TopicRecordsTable, TopicStatsTable}

/** Column-level entry points for the graft expressions, plus SQL
  * registration.
  */
package object functions {

  /** 64-bit murmur3 token of a partition key (string or binary column). */
  def murmur3_token(c: Column): Column = GraftColumns.murmur3Token(c)

  /** Cosine similarity of two ArrayType(FloatType) columns. */
  def cosine_sim(a: Column, b: Column): Column = GraftColumns.cosineSim(a, b)

  /** Squared L2 distance of two ArrayType(FloatType) columns. */
  def l2_sq(a: Column, b: Column): Column = GraftColumns.l2Sq(a, b)

  /** Hyperplane-LSH signature (sign bits) of an ArrayType(FloatType) column. */
  def srp_signature(v: Column, bits: Int, seed: Long): Column =
    GraftColumns.srpSignature(v, bits, seed)

  /** MinHash signature of an ArrayType(LongType) element-hash column. */
  def minhash_sig(hashes: Column, numPerms: Int, seed: Long): Column =
    GraftColumns.minhashSig(hashes, numPerms, seed)

  /** Distinct murmur3 hashes of the k-word shingles of lower(text). */
  def shingle_hashes(text: Column, k: Int): Column =
    GraftColumns.shingleHashes(text, k)

  /** Positional k-word window hashes (order kept, index = position). */
  def pos_gram_hashes(text: Column, k: Int): Column =
    GraftColumns.posGramHashes(text, k)

  /** 64-bit SimHash of lower(text)'s word stream. */
  def simhash_sig(text: Column): Column = GraftColumns.simhashSig(text)

  /** Hashed k-gram feature buckets (occurrence order, duplicates kept). */
  def gram_buckets(text: Column, k: Int, buckets: Int): Column =
    GraftColumns.gramBuckets(text, k, buckets)

  /** Character-bigram histogram perceptual hash (null below 2 code points). */
  def char_bigram_phash(text: Column, buckets: Int): Column =
    GraftColumns.charBigramPhash(text, buckets)

  /** Ring partition ordinal (broker*rangesPerToken + range) of a token. */
  def ring_partition(token: Column, clusterSize: Int, rangesPerToken: Int): Column =
    GraftColumns.ringPartition(token, clusterSize, rangesPerToken)

  /** The graft SQL functions, one row each: name, the class that
    * documents it, and its builder. `GraftExtensions` injects this table
    * and `registerAll` registers it, so the two surfaces cannot drift.
    */
  private[graft] val scalarFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("murmur3_token", classOf[Murmur3Token], e => Murmur3Token(e.head)),
      ("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
      ("l2_sq", classOf[L2Sq], e => L2Sq(e(0), e(1))),
      ("minhash_sig", classOf[MinHashSig], e => MinHashSig(e.head, intArg(e(1)), longArg(e(2)))),
      ("shingle_hashes", classOf[ShingleHashes], e => ShingleHashes(e.head, intArg(e(1)))),
      ("pos_gram_hashes", classOf[PosGramHashes], e => PosGramHashes(e.head, intArg(e(1)))),
      ("simhash_sig", classOf[SimHashSig], e => SimHashSig(e.head)),
      ("gram_buckets", classOf[GramBuckets],
        e => GramBuckets(e.head, intArg(e(1)), intArg(e(2)))),
      ("char_bigram_phash", classOf[CharBigramPhash],
        e => CharBigramPhash(e.head, intArg(e(1)))))

  /** The graft table-valued functions, in the same shape. */
  private[graft] val tableFunctions: Seq[(String, Class[_], Seq[Expression] => LogicalPlan)] =
    Seq(
      ("ring_partitions", RingPartitionsTable.getClass, RingPartitionsTable.plan),
      ("topic_records", TopicRecordsTable.getClass, TopicRecordsTable.plan),
      ("topic_list", TopicListTable.getClass, TopicListTable.plan),
      ("topic_lag", TopicLagTable.getClass, TopicLagTable.plan),
      ("topic_offsets_for_time", TopicOffsetsForTimeTable.getClass,
        TopicOffsetsForTimeTable.plan),
      ("topic_stats", TopicStatsTable.getClass, TopicStatsTable.plan))

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

  private[graft] def infoOf(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register graft functions (scalar + table-valued) for SQL use on an
    * existing session — the same table `GraftExtensions` injects. Names
    * the session already resolves are left alone, so calling this per
    * query costs a lookup, not a re-registration.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    scalarFunctions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, infoOf(name, cls), builder)
    }
    val tvf = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!tvf.functionExists(id)) tvf.registerFunction(id, infoOf(name, cls), builder)
    }
  }
}
