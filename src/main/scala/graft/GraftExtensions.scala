package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.core.Predicates
import graft.functions._

/**
 * SparkSessionExtensions integration: registers the engine's native
 * Catalyst expressions as SQL functions, so `spark.sql` users can call the
 * geometry kernels directly —
 *
 *   spark.sql("SELECT * FROM r JOIN s ON st_intersects(r.gtype, r.coords,
 *                                                      s.gtype, s.coords)")
 *
 * Enable with
 *   .config("spark.sql.extensions", "graft.GraftExtensions")
 * or inject programmatically via `SparkSession.builder.withExtensions`.
 *
 * Registered functions (all codegen expressions, no UDF overhead):
 *   st_intersects / st_inside / st_disjoint / st_equals / st_meets /
 *   st_contains / st_covers / st_covered_by (gtypeA, coordsA, gtypeB, coordsB)
 *   st_relation(gtypeA, coordsA, gtypeB, coordsB) → TR_* relation code
 *   april_verdict(pred, allA, fullA, allB, fullB) → verdict code
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def predFn(name: String, pred: Int): Unit =
      register(ext, name, s"exact spatial predicate $name", { args =>
        require(args.length == 4, s"$name expects (gtypeA, coordsA, gtypeB, coordsB)")
        STRefine(pred, args(0), args(1), args(2), args(3))
      })

    predFn("st_intersects", Predicates.INTERSECTS)
    predFn("st_inside", Predicates.INSIDE)
    predFn("st_disjoint", Predicates.DISJOINT)
    predFn("st_equals", Predicates.EQUAL)
    predFn("st_meets", Predicates.MEET)
    predFn("st_contains", Predicates.CONTAINS)
    predFn("st_covers", Predicates.COVERS)
    predFn("st_covered_by", Predicates.COVERED_BY)

    register(ext, "st_relation", "DE-9IM relation code (TR_*)", { args =>
      require(args.length == 4, "st_relation expects (gtypeA, coordsA, gtypeB, coordsB)")
      STFindRelation(args(0), args(1), args(2), args(3))
    })
    register(ext, "april_verdict",
      "APRIL interval verdict (0=negative, 1=hit, 2=inconclusive)", { args =>
        require(args.length == 5, "april_verdict expects (pred, allA, fullA, allB, fullB)")
        val pred = args.head match {
          case Literal(v: Int, _) => v
          case other => sys.error(s"april_verdict: pred must be an int literal, got $other")
        }
        AprilVerdict(pred, args(1), args(2), args(3), args(4))
      })

    // text / dedup / similarity kernels on the same SQL surface (all
    // codegen expressions — a pipeline author can run the whole dedup
    // candidate flow from spark.sql)
    def intLit(e: Expression, fn: String, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => sys.error(s"$fn: $what must be an int literal, got $other")
    }
    register(ext, "fnv64", "FNV-1a 64 hash of a string", { args =>
      require(args.length == 1, "fnv64 expects (text)"); Fnv64(args(0))
    })
    register(ext, "simhash64", "SimHash64 over whitespace tokens", { args =>
      require(args.length == 1, "simhash64 expects (text)"); Simhash64(args(0))
    })
    register(ext, "lang_id", "stopword-argmax language id", { args =>
      require(args.length == 1, "lang_id expects (text)"); LangId(args(0))
    })
    register(ext, "fingerprint", "rolling-hash fingerprint (min FNV64 over char n-grams)", { args =>
      require(args.length == 1 || args.length == 2,
        "fingerprint expects (text[, gram])")
      Fingerprint(args(0),
        if (args.length == 2) intLit(args(1), "fingerprint", "gram") else 16)
    })
    register(ext, "minhash_sig", "MinHash signature array", { args =>
      require(args.length == 3, "minhash_sig expects (text, k, gram)")
      MinhashSig(args(0), intLit(args(1), "minhash_sig", "k"),
        intLit(args(2), "minhash_sig", "gram"))
    })
    register(ext, "band_buckets", "per-band FNV fold of a minhash signature", { args =>
      require(args.length == 2, "band_buckets expects (sig, bands)")
      BandBuckets(args(0), intLit(args(1), "band_buckets", "bands"))
    })
    register(ext, "shingle_hashes", "sorted distinct FNV64 char-shingle hashes", { args =>
      require(args.length == 2, "shingle_hashes expects (text, gram)")
      ShingleHashesExpr(args(0), intLit(args(1), "shingle_hashes", "gram"))
    })
    register(ext, "sorted_jaccard", "Jaccard of two sorted hash arrays", { args =>
      require(args.length == 2, "sorted_jaccard expects (a, b)")
      SortedJaccard(args(0), args(1))
    })
    register(ext, "cosine_sim", "cosine similarity of two float arrays", { args =>
      require(args.length == 2, "cosine_sim expects (a, b)")
      CosineSim(args(0), args(1))
    })
    register(ext, "lsh_sig", "random-hyperplane LSH signature", { args =>
      require(args.length == 3, "lsh_sig expects (vec, seed, nBits)")
      LshSig(args(0), args(1), intLit(args(2), "lsh_sig", "nBits"))
    })
    register(ext, "hex_cell", "H3-style hex cell of lon/lat", { args =>
      require(args.length == 3, "hex_cell expects (x, y, res)")
      HexCellOf(args(0), args(1), intLit(args(2), "hex_cell", "res"))
    })

    // a bare `JOIN ... ON st_<pred>(...)` would execute as a cartesian
    // product; this rule rewrites it into the engine's merged
    // multi-resolution tile exchange (see graft.plans.SpatialJoinRewrite;
    // spark.sql.optimizer.excludedRules=graft.plans.SpatialJoinRewrite
    // switches it off)
    ext.injectOptimizerRule(session => graft.plans.SpatialJoinRewrite(session))
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val info = new ExpressionInfo("graft.functions.GeoExpressions", name, usage)
    val fb: FunctionBuilder = (args: Seq[Expression]) => builder(args)
    ext.injectFunction((FunctionIdentifier(name), info, fb))
  }
}
