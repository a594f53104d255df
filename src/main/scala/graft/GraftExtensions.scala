package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.{CosineSimilarity, GramHashes, Int8Quantize, MinHashSig, ShingleSet, SimHashSig}
import graft.serving.Ops
import graft.serving.Ops.SqlParams

/** SQL surface for the engine's native expressions AND operator
  * families, registered through the standard `SparkSessionExtensions`
  * mechanism so `spark.sql(...)` and the function registries see them
  * like built-ins:
  *
  *   spark.sql.extensions=graft.GraftExtensions   (GraftSession sets it)
  *
  *   SELECT cosine_similarity(a.embedding, b.embedding) FROM ...
  *   SELECT shingle_set(text, 3), minhash_sig(text, 3, 16) FROM docs
  *
  * Scalar expressions bind directly; the parameterizable operator
  * families are TABLE-VALUED functions (Spark's table-function
  * registry, the `range(...)` mechanism): the entries of
  * [[graft.serving.Ops]] that have a SQL name. Each reads the corpus
  * directory registered by [[GraftSession.sqlSurface]] and expands to
  * the same logical plan the Scala registry function builds —
  *
  *   SELECT * FROM phrase_search('query big part')
  *   SELECT * FROM more_like_this(1, 10, 20) JOIN documents USING (doc_id)
  *
  * — the reference's ES-DSL query composition
  * (PublisherMapperImpl.java:65-109) re-expressed as SQL over
  * Catalyst plans. Literal arguments only (they parameterize plan
  * CONSTRUCTION, exactly like the ES DSL's request body); omitted
  * trailing arguments take the table's defaults, the same as HTTP's. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "int8_quantize"),
      (args: Seq[Expression]) => Int8Quantize(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (args: Seq[Expression]) => ShingleSet(args(0),
        new SqlParams("shingle_set", args.tail).int("k", required = true))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        val p = new SqlParams("minhash_sig", args.tail)
        MinHashSig(args(0), p.int("k", required = true),
          p.int("numHashes", required = true))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      (args: Seq[Expression]) => SimHashSig(args(0),
        new SqlParams("simhash_sig", args.tail).int("bits", required = true))))
    ext.injectFunction((
      new FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (args: Seq[Expression]) => GramHashes(args(0),
        new SqlParams("gram_hashes", args.tail).int("k", required = true))))

    // ---- table-valued operator families (GraftSession.sqlSurface) ----
    for (op <- Ops.table; name <- op.sql)
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          val spark = SparkSession.active
          val dir = spark.conf.getOption(GraftSession.SqlDirKey).getOrElse(
            throw new IllegalArgumentException(
              s"$name: no corpus registered for the SQL surface — call " +
                "GraftSession.sqlSurface(spark, dir) first"))
          val p = new SqlParams(name, args)
          val df = op.build(new Ops.Ctx(spark, dir), p)
          p.finish()
          df.queryExecution.logical
        }: LogicalPlan))
  }
}
