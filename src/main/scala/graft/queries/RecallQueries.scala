package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.Dedup
import graft.tools.GenPlant

/** Planted-recall gate under the DRIVER's correctness compare (r8
  * verdict #6): round 8 proved the value of measuring capped-tier
  * recall against planted ground truth — the sf1 RecallGate tool caught
  * a real cap mis-calibration on its first run — but a tool run by hand
  * cannot catch the next regression. This query plants the UNDER-CAP
  * families (GenPlant families nd_small 8 / nd_med 64 / cl_norm 16 —
  * the tiers whose recall FLOORS apply; the over-cap families remain
  * the sf1 tool's measured-degradation regime) into whatever corpus the
  * sweep runs on, runs the REGISTERED operator configs over the merged
  * corpus, and emits one row per floor violation — expected EMPTY, so a
  * future cap/banding regression flips a hash gate, not a manually-run
  * diagnostic.
  *
  * Ground truth is derived driver-side from the planted constants
  * (≤ 88 docs / ≤ 2.2 k pairs — control-plane-sized by construction;
  * the OPERATORS under test still run distributed over the full merged
  * corpus). A family with an empty truth set emits a `vacuous_truth`
  * violation so the gate cannot pass by measuring nothing.
  */
object RecallQueries {

  /** Under-cap plant: (name, family, size, words, vocab, edits). */
  private val GateTextFamilies =
    GenPlant.TextFamilies.filter(t => Set(0, 1, 3)(t._2))
  private val GateEmbClusters =
    GenPlant.EmbClusters.filter(c => c._1 == 3)

  val MinhashFloor = 0.95
  val SemanticFloor = 0.95
  val AnnRpFloor = 0.9

  private def plantedDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    GateTextFamilies.flatMap { case (_, f, size, nW, vocab, edits) =>
      (0 until size).map { j =>
        val text = GenPlant.memberWords(f, j, nW, vocab, edits)
          .mkString(" ")
        (GenPlant.idOf(f, j), text, "en", "planted", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def plantedEmb(s: SparkSession): DataFrame = {
    import s.implicits._
    GateEmbClusters.flatMap { case (f, size, noise) =>
      (0 until size).map { j =>
        (GenPlant.idOf(f, j), GenPlant.memberVec(f, j, noise).toSeq, f)
      }
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", col("label").cast("int"))
  }

  def recallCheckPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
      .unionByName(plantedDocs(s))
    val emb = Tables.load(s, dir, "embeddings")
      .unionByName(plantedEmb(s))
    val famName = GenPlant.TextFamilies.map(t => t._2 -> t._1).toMap
    def famOf(id: Long): Int =
      ((id - GenPlant.PlantBase) / GenPlant.FamilyStride).toInt

    // the five sub-checks are INDEPENDENT operator chains that each end
    // in a control-plane collect — overlapping them as concurrent
    // actions (guide §2.6; the ConcurrentPasses posture) makes the gate
    // cost ≈ its slowest chain instead of the sum. Results are sets
    // compared driver-side, so concurrency cannot reorder anything.
    import scala.concurrent.{Await, ExecutionContext, Future}
    // 5 outer chains + the nested brute-force future; 8 threads so a
    // nested await can never exhaust the pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    // bounded like every pass pool: a wedged chain surfaces as a
    // TimeoutException, never as a hung driver thread
    val timeout = graft.operators.ConcurrentPasses.passTimeout(s)
    def await[A](f: Future[A]): A = Await.result(f, timeout)

    // ---- minhash collapsed near-dup, per planted family ------------------
    // truth: exact pairwise shingle Jaccard within each family (planted
    // vocabularies are family-private, so cross-family/corpus pairs are
    // impossible above the threshold)
    val mhRowsF = Future {
      val shSets: Map[Long, Set[String]] =
        Dedup.shingles(plantedDocs(s), "text", "doc_id",
            TextQueries.ShingleN)
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getString(1)).toSet).toMap
      def jac(a: Set[String], b: Set[String]): Double =
        (a & b).size.toDouble / (a | b).size
      val mhTruth = GateTextFamilies.flatMap { case (_, f, size, _, _, _) =>
        for {
          a <- 0 until size; b <- (a + 1) until size
          ia = GenPlant.idOf(f, a); ib = GenPlant.idOf(f, b)
          if jac(shSets(ia), shSets(ib)) >= TextQueries.MinJaccard
        } yield (ia, ib)
      }.toSet
      val mhFound = Dedup.nearDuplicatesCollapsed(docs, "text", "doc_id",
          TextQueries.ShingleN, TextQueries.MinhashK, TextQueries.LshBands,
          TextQueries.MinJaccard)
        .filter(col("doc_a") >= GenPlant.PlantBase &&
          col("doc_b") >= GenPlant.PlantBase)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      mhTruth.groupBy(p => famOf(p._1)).toSeq.map {
        case (f, pairs) => ("minhash_collapsed", famName(f),
          pairs.count(mhFound).toLong, pairs.size.toLong, MinhashFloor)
      }
    }

    // ---- semantic-dedup ann prod, planted cluster -------------------------
    // truth: all within-cluster pairs (pairwise cos ≈ 0.9975 by
    // construction — above the 0.9 prod threshold)
    val semRowsF = Future {
      val prodFound = graft.text.Curation.semanticDedupPairsAnn(docs, emb,
          minCos = TextQueries.AnnProdTau, shingleN = TextQueries.ShingleN,
          minJaccard = TextQueries.MinJaccard, dim = SimQueries.Dim,
          bands = TextQueries.AnnProdBands,
          planesPerBand = TextQueries.AnnProdPlanesPerBand,
          seed = TextQueries.AnnSeed,
          maxBucket = TextQueries.annProdCap(emb.count()))
        .filter(col("id_a") >= GenPlant.PlantBase)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      GateEmbClusters.map { case (f, size, _) =>
        val ids = (0 until size).map(j => GenPlant.idOf(f, j))
        val truth = for (a <- ids; b <- ids if a < b) yield (a, b)
        ("semantic_dedup_ann_prod", famName(f),
          truth.count(prodFound).toLong, truth.size.toLong, SemanticFloor)
      }
    }

    // ---- ann_rp recall@10 on planted-cluster queries ----------------------
    val annRowsF = Future {
      val queries = emb.filter(col("vec_id") >= GenPlant.PlantBase &&
        col("vec_id") % GenPlant.FamilyStride < 3)
      def topSets(df: DataFrame) =
        df.select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val bruteF = Future(topSets(graft.sim.Similarity.knnBruteForce(emb,
        queries, "vec_id", "embedding", SimQueries.K)))
      val ann = topSets(graft.sim.Similarity.knnRp(emb, queries, "vec_id",
        "embedding", SimQueries.K,
        graft.sim.Similarity.rpMatrix(SimQueries.RpAnnPlanes,
          SimQueries.Dim, SimQueries.RpAnnSeed), SimQueries.RpAnnProbes))
      val brute = await(bruteF)
      val annHit = brute.toSeq.map { case (q, truth) =>
        (ann.getOrElse(q, Set.empty).count(truth).toLong,
          truth.size.toLong)
      }
      Seq(("ann_rp_recall_at_k", "cl_norm",
        annHit.map(_._1).sum, annHit.map(_._2).sum, AnnRpFloor))
    }

    // ---- image dHash banded near-dup, planted jitter pairs ---------------
    // truth: exact (unbanded) Hamming ≤ NdMaxHamming over the corpus's
    // OWN planted pairs, computed driver-side from the closed form
    // (bounded at 64 pairs — control-plane). The registered operator's
    // full-hash oracle mirrors the banding, so a banding/cap regression
    // moves both oracle sides identically — only THIS row, measured
    // against unbanded truth, can catch it.
    val ndRowsF = Future {
      val ndPlantIds = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % MediaQueries.NdPlantMod
            === MediaQueries.NdPlantRes &&
          col("doc_id") >= MediaQueries.NdPlantMod)
        .select("doc_id").orderBy("doc_id").limit(64)
        .collect().map(_.getLong(0))
      val ndTruth = ndPlantIds.flatMap { d =>
        def bands(id: Long) = graft.multimodal.Ppm.dHashBands(
          graft.multimodal.Ppm.encode(MediaQueries.ImgW, MediaQueries.ImgH,
            (x, y) => MediaQueries.synthNdPixel(id, x, y)))
        val src = d - MediaQueries.NdPlantDelta
        if (graft.multimodal.Ppm.dHashDistance(bands(src), bands(d))
              <= MediaQueries.NdMaxHamming) Some((src, d)) else None
      }.toSet
      val ndFound = MediaQueries.queries("image_neardup_documents")(s, dir)
        .filter(col("doc_b") - col("doc_a")
            === MediaQueries.NdPlantDelta &&
          col("doc_b").isin(ndPlantIds.toSeq: _*))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq(("image_dhash_banded", "nd_jitter",
        ndTruth.count(ndFound).toLong, ndTruth.size.toLong, MinhashFloor))
    }

    // ---- audio energy-delta banded near-dup, planted jitter pairs --------
    // same posture as the image row: unbanded-Hamming truth from the
    // closed form, driver-side, bounded at 64 pairs — the one measure
    // the mirrored full-pipeline oracle cannot regress with the engine.
    val audRowsF = Future {
      val audPlantIds = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % AudioQueries.AudPlantMod
            === AudioQueries.AudPlantRes &&
          col("doc_id") >= AudioQueries.AudPlantMod)
        .select("doc_id").orderBy("doc_id").limit(64)
        .collect().map(_.getLong(0))
      val audTruth = audPlantIds.flatMap { d =>
        def bands(id: Long) = graft.multimodal.Wav.energyBands(
          Array.tabulate(AudioQueries.FpSamples)(i =>
            AudioQueries.synthNdSample(id, i)))
        val src = d - AudioQueries.AudPlantDelta
        val dist = bands(src).zip(bands(d))
          .map { case (a, b) => java.lang.Integer.bitCount(a ^ b) }.sum
        if (dist <= AudioQueries.AudMaxHamming) Some((src, d)) else None
      }.toSet
      val audFound = AudioQueries.queries("audio_neardup_documents")(s, dir)
        .filter(col("doc_b") - col("doc_a")
            === AudioQueries.AudPlantDelta &&
          col("doc_b").isin(audPlantIds.toSeq: _*))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq(("audio_energy_banded", "aud_jitter",
        audTruth.count(audFound).toLong, audTruth.size.toLong,
        MinhashFloor))
    }

    val (mhRows, semRows, annRows, ndRows, audRows) =
      try (await(mhRowsF), await(semRowsF), await(annRowsF),
        await(ndRowsF), await(audRowsF))
      finally pool.shutdown()

    val violations = (mhRows ++ semRows ++ annRows ++ ndRows ++ audRows)
      .flatMap {
      case (check, fam, rec, truth, floor) =>
        if (truth == 0L)
          Some((s"${check}:vacuous_truth", fam, rec, truth, 0.0, floor))
        else {
          val recall = rec.toDouble / truth
          if (recall < floor) Some((check, fam, rec, truth,
            math.rint(recall * 10000) / 10000, floor))
          else None
        }
    }
    violations.toDF("check", "family", "recovered", "truth",
        "recall", "floor")
      .orderBy("check", "family")
  }

  /** Typed zero-row oracle: expected-empty IS the contract. */
  val recallCheckOracleSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS check, CAST(NULL AS VARCHAR) AS family,
      |  CAST(NULL AS BIGINT) AS recovered, CAST(NULL AS BIGINT) AS truth,
      |  CAST(NULL AS DOUBLE) AS recall, CAST(NULL AS DOUBLE) AS floor
      |WHERE false""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "recall_check_planted" -> (recallCheckPlanted _))

  val oracles: Map[String, String] = Map(
    "recall_check_planted" -> recallCheckOracleSql)
}
