package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

import graft.functions.expressions.{MinHashSignature, SimHash64,
  DotProductFloat, TopKByAggregate, FreqItemsAgg, KllSketchAgg,
  KllMergeAgg, KllQuantiles}

/** SQL-surface registration of the engine's custom Catalyst expressions,
  * so the `spark.sql(...)` string interface reaches them exactly like a
  * built-in — `SELECT simhash64(tokens), top_k_by(sim, id, 5) ...`.
  * (The reference exposes its function registry to its JS pipeline DSL
  * the same way: `function/registry.go:20-44` — names resolve at parse
  * time, not via host-language imports.)
  *
  * Register on a live session with `SqlFunctions.register(spark)`.
  */
object SqlFunctions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  /** (name, builder) for every SQL-exposed custom function. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> { args =>
      require(args.size == 2, "minhash_signature(shingles, numHashes)")
      MinHashSignature(args.head, intArg(args(1), "minhash_signature", 2))
    },
    "simhash64" -> { args =>
      require(args.size == 1, "simhash64(tokens)")
      SimHash64(args.head)
    },
    "dot_product_f" -> { args =>
      require(args.size == 2, "dot_product_f(a, b)")
      DotProductFloat(args.head, args(1))
    },
    "top_k_by" -> { args =>
      require(args.size == 3, "top_k_by(score, id, k)")
      TopKByAggregate(args.head, args(1), intArg(args(2), "top_k_by", 3))
    },
    "freq_items" -> { args =>
      require(args.size == 2, "freq_items(item, capacity)")
      FreqItemsAgg(args.head, intArg(args(1), "freq_items", 2))
    },
    "kll_sketch_agg" -> { args =>
      require(args.size == 2, "kll_sketch_agg(value, k)")
      KllSketchAgg(args.head, intArg(args(1), "kll_sketch_agg", 2))
    },
    "kll_merge_agg" -> { args =>
      require(args.size == 2, "kll_merge_agg(sketch, k)")
      KllMergeAgg(args.head, intArg(args(1), "kll_merge_agg", 2))
    },
    "kll_quantiles" -> { args =>
      require(args.size >= 2, "kll_quantiles(sketch, rank, ...)")
      // Spark parses a plain `0.5` literal as DECIMAL, so accept both
      // numeric literal forms; validate the [0,1] range like the Column
      // API does rather than deferring to runtime
      val probs = args.tail.map {
        case Literal(d: Double, _) => d
        case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
        case Literal(i: Int, _) => i.toDouble
        case Literal(l: Long, _) => l.toDouble
        case other => throw new IllegalArgumentException(
          s"kll_quantiles: ranks must be numeric literals, got $other")
      }
      require(probs.forall(p => p >= 0.0 && p <= 1.0),
        s"kll_quantiles: ranks must be within [0,1], got ${probs.mkString(",")}")
      KllQuantiles(args.head, probs)
    })

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      org.apache.spark.sql.graftbridge.Bridge
        .registerFunction(spark, name, b)
    }
}
