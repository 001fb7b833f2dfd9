package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the defaulted parameters of the operator objects: every default a
  * def in graft.operators carries is a setting some caller varies, and a
  * new one is a deliberate edit to [[OperatorOptionsSpec.expected]] with
  * its reason — a default no caller varies belongs in the body as a
  * constant. Read from the compiled `name$default$N` getters, so it counts
  * what the bytecode offers, not what a source survey finds. */
class OperatorOptionsSpec extends AnyFunSuite {

  test("operator defaults are exactly the committed list") {
    assert(OperatorOptionsSpec.defaults.diff(OperatorOptionsSpec.expected)
      .isEmpty, "new operator defaults: add each to the list with a reason")
    assert(OperatorOptionsSpec.expected.diff(OperatorOptionsSpec.defaults)
      .isEmpty, "removed operator defaults: drop them from the list")
    assert(OperatorOptionsSpec.defaults.size == 65)
  }
}

object OperatorOptionsSpec {
  private val objects = Seq("Curation", "Dedup", "Graph", "Joins",
    "Multimodal", "Scale", "Similarity", "Temporal", "TextAnalysis")

  /** `Object.def.param` for every defaulted parameter of the operator
    * objects: each `def$default$N` getter, named through the def's
    * Scala signature. */
  lazy val defaults: Set[String] = {
    import scala.reflect.runtime.{universe => ru}
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    val Getter = "(.+)\\$default\\$(\\d+)".r
    objects.flatMap { obj =>
      val module = mirror.staticModule("graft.operators." + obj)
      // of overloaded alternatives, only one may declare defaults
      val defs = module.moduleClass.asClass.toType.decls
        .filter(_.isMethod).map(_.asMethod)
        .filter(_.paramLists.flatten.exists(_.asTerm.isParamWithDefault))
        .map(m => m.name.decodedName.toString -> m).toMap
      Class.forName("graft.operators." + obj + "$").getDeclaredMethods
        .map(_.getName).collect { case Getter(name, n) =>
          val params = defs(name).paramLists.flatten
          s"$obj.$name.${params(n.toInt - 1).name.decodedName}"
        }
    }.toSet
  }

  /** Each entry with a caller that sets it to a value other than its
    * default: a `src/main` query or tool, or the test pinning that
    * behaviour. */
  val expected: Set[String] = Set(
    "Curation.collocations.minCount",       // WebSpec: minCount = 1
    "Curation.collocations.k",              // WebSpec, PathologicalSpec
    "Curation.keywords.k",                  // WebSpec: k = 2
    "Curation.bpeTrain.minPairFreq",        // BpeSpec: 8
    "Curation.perplexityBuckets.buckets",   // CurationSpec: 2 tiers
    "Dedup.bloomIncremental.fpp",           // OpsWeb: 0.03
    "Dedup.winnowFingerprints.k",           // winnowPairs passes its own
    "Dedup.winnowFingerprints.w",           // winnowPairs passes its own
    "Dedup.winnowPairs.k",                  // LlmOpsSpec: 3
    "Dedup.winnowPairs.w",                  // LlmOpsSpec: 3
    "Dedup.winnowPairs.maxDocFreq",         // LlmOpsSpec: Some(1)
    "Dedup.duplicateSpans.L",               // removeSpans passes its own
    "Dedup.removeSpans.L",                  // OpsLlm: 8
    "Dedup.substringDedup.L",               // OpsSelection
    "Dedup.shingles.n",                     // editDistancePairs, tfidf*
    "Dedup.shingleCapStats.cap",            // LlmOpsSpec: 1
    "Dedup.ngramJaccardPairs.threshold",    // OpsLlm: 0.5, 0.9
    "Dedup.ngramJaccardPairs.maxDocFreq",   // LlmOpsSpec: None, Some(1)
    "Dedup.containmentPairs.threshold",     // DedupPropsSpec: random t
    "Dedup.editDistancePairs.n",            // LlmOpsSpec: 1
    "Dedup.editDistancePairs.maxRel",       // LlmOpsSpec: 0.9
    "Dedup.editDistancePairs.minCommon",    // LlmOpsSpec: 1
    "Dedup.tfidfWeights.n",                 // the tfidf pair operators
    "Dedup.tfidfCosinePairs.n",             // SkewProbe: 1
    "Dedup.tfidfCosinePairs.threshold",     // DedupPropsSpec: random t
    "Dedup.tfidfCosinePairsPrefix.n",       // SkewProbe: 1
    "Dedup.tfidfCosinePairsPrefix.threshold", // DedupPropsSpec: random t
    "Dedup.tfidfPrefixMassRatio.n",         // SkewProbe: 1
    "Dedup.tfidfPrefixMassRatioSampled.n",  // tfidfCosinePairsAuto, 1 in
                                            // SkewProbeSpec
    "Dedup.tfidfCosinePairsAuto.n",         // SkewProbe: 1
    "Dedup.shingleTf.n",                    // tfidfWeights, sampled ratio
    "Dedup.prefixJaccardPairs.threshold",   // LlmOpsSpec: 1.0
    "Dedup.minhashDedupPairs.threshold",    // OpsLlm: 0.9
    "Dedup.clusterLabels.maxDriverEdges",   // test seam: 0 forces the
                                            // distributed loop
    "Graph.pageRank.iters",                 // WebSpec: 1, 2, 4
    "Graph.pageRank.teleport",              // OpsWeb: TrustRank seeds
    "Graph.hits.iters",                     // WebSpec: 3
    "Multimodal.extractFeatures.dim",       // OpsImage: 8
    "Scale.prefixSum.buckets",              // OpsLlm: 16
    "Scale.saltedJoin.salts",               // OpsSelection: 8
    "Scale.packBestFit.buckets",            // ScaleSpec: 4, 8
    "Similarity.centroidScores.forceLiteral", // test seam: CentroidParity
    "Similarity.signBits.nPlanes",          // annPairs passes its own
    "Similarity.signBits.seed",             // annPairs: one per table
    "Similarity.annPairs.nPlanes",          // OpsLlm: 4
    "Similarity.annPairs.tables",           // OpsLlm: 8
    "Similarity.ivfIndex.nlist",            // OpsLlm: 16
    "Similarity.ivfIndex.iters",            // OpsLlm: 2
    "Similarity.ivfIndex.seed",             // LlmOpsSpec: 5, 9
    "Similarity.ivfTopKForQuery.nprobe",    // OpsLlm: 16
    "Similarity.clusterPairs.probes",       // OpsLlm: 3
    "Similarity.knnGraph.nlist",            // hardNegatives, LlmOpsSpec
    "Similarity.knnGraph.probes",           // hardNegatives: 5
    "Similarity.knnGraph.seed",             // LlmOpsSpec: 9
    "Similarity.hardNegatives.nlist",       // OpsSelection: 16
    "Similarity.hardNegatives.probes",      // OpsSelection: 5
    "Similarity.semanticDedup.nlist",       // OpsLlm: N/64
    "Similarity.semanticDedup.seed",        // LlmOpsSpec: 9
    "Similarity.pqIndex.m",                 // OpsLlm: 16
    "Similarity.pqIndex.ksub",              // PqSpec: 4, 8, 12
    "Similarity.pqIndex.iters",             // OpsLlm: 4
    "Similarity.pqIndex.seed",              // PqSpec: 3, 7, 11
    "Temporal.asofJoin.direction",          // TemporalSpec: forward
    "Temporal.asofJoin.toleranceUs",        // OpsTemporal: one hour
    "Temporal.asofJoinNearest.toleranceUs") // TemporalSpec
}
