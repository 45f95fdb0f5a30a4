package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CosineSimilarityExpr, DotProductExpr, HilbertIndexExpr, MinHashSigExpr, SimHash64Expr, SortedContainsExpr, SortedIntersectCountExpr}

/** Config-installable packaging of the whole graft engine surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the TopK rewrite (optimizer rule + physical strategy) and the
  * native expressions as SQL functions into ANY SparkSession — no
  * call into [[GraftSession]] required, so a user's existing session
  * factory (or a Thrift/Connect server with its own builder) picks the
  * engine up from configuration alone. [[GraftSession.build]] routes
  * through this same class, keeping one definition of "what graft
  * installs"; its [[GraftExtensions.registerMissing]] call covers only a
  * foreign session handed back by getOrCreate (extensions cannot be
  * retrofitted onto an already-built session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.plans.TopKPerKey.install(e)
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      e.injectFunction((new FunctionIdentifier(name), GraftExtensions.info(name), builder))
    }
  }
}

object GraftExtensions {

  /** The SQL function surface, spelled once: (name, usage, builder). */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays",
      { children: Seq[Expression] =>
        require(children.size == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarityExpr(children.head, children(1))
      }),
    ("dot_product", "dot_product(a, b) - inner product of two double arrays",
      { children: Seq[Expression] =>
        require(children.size == 2, "dot_product takes exactly 2 arguments")
        DotProductExpr(children.head, children(1))
      }),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a ∩ b| of two sorted distinct BIGINT arrays",
      { children: Seq[Expression] =>
        require(children.size == 2, "sorted_intersect_count takes exactly 2 arguments")
        SortedIntersectCountExpr(children.head, children(1))
      }),
    ("hilbert_xy2d", "hilbert_xy2d(x, y) - order-16 Hilbert curve index of a BIGINT pair",
      { children: Seq[Expression] =>
        require(children.size == 2, "hilbert_xy2d takes exactly 2 arguments")
        HilbertIndexExpr(children.head, children(1))
      }),
    ("simhash64", "simhash64(hashes) - 64-bit bit-majority simhash of a BIGINT array",
      { children: Seq[Expression] =>
        require(children.size == 1, "simhash64 takes exactly 1 argument")
        SimHash64Expr(children.head)
      }),
    ("minhash_sig", "minhash_sig(hashes, numPerms) - minhash signature of a BIGINT array",
      { children: Seq[Expression] =>
        require(children.size == 2, "minhash_sig takes (hashes, numPerms)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig numPerms must be a literal int, got $other")
        }
        MinHashSigExpr(children.head, n)
      }),
    ("sorted_contains",
      "sorted_contains(a, x) - whether the sorted BIGINT array a contains x",
      { children: Seq[Expression] =>
        require(children.size == 2, "sorted_contains takes exactly 2 arguments")
        SortedContainsExpr(children.head, children(1))
      }))

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  /** Register every function of [[functions]] the session's registry
    * lacks: a no-op on a session built with these extensions, the whole
    * surface on a foreign one.
    */
  private[graft] def registerMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      val id = new FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info(name), builder)
    }
  }
}
