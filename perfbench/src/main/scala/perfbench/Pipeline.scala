package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import perfbench.Harness.Item

/** The `llm_pipeline` workload: a curation pipeline over a seeded corpus,
  * every step through the `Graft` facade.  Steps that feed a later step
  * persist their output as parquet (as a pipeline stage would); the
  * others end in the [[Digest]] action.
  *
  *   redact -> token_hashes, exact_dedup, simhash -> prefix_jaccard -> cc
  *   cosine, semantic_dedup, ann_topk (embeddings)
  *   write_clustered (survivors of both dedups, clustered by simhash)
  */
final class Pipeline(spark: SparkSession, corpus: String, work: String, seed: Long) {
  import Pipeline._

  private def docs = graft.Tables.documents(spark, corpus)
  private def emb = graft.Tables.embeddings(spark, corpus)
  private def path(n: String) = s"$work/$n"
  private def read(n: String) = spark.read.parquet(path(n))
  private def write(n: String)(df: DataFrame): Digest.Result = {
    df.write.mode("overwrite").parquet(path(n))
    Digest.Result(-1L, "")
  }
  private def queries = emb.filter(col("vec_id") % QueryEvery === 0)

  private val probes: Seq[Array[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(8)(Array.fill(64)(r.nextGaussian().toFloat))
  }

  def items: Seq[Item] = Seq(
    Item("redact", "kernel", () => docs.select(col("doc_id"),
      Graft.redact(col("text")).as("text"), col("lang"), col("source")), write("clean")),
    Item("token_hashes", "kernel", () => read("clean").select(col("doc_id"),
      Graft.tokenHashes(col("text")).as("th")), Digest(_)),
    Item("exact_dedup", "op", () => read("clean")
      .groupBy(Graft.docHash(Graft.tokenHashes(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("copies"))
      .filter(col("copies") > 1), Digest(_)),
    Item("simhash", "kernel", () => read("clean").select(col("doc_id"),
      Graft.simHash(col("text")).as("sh")), write("sims")),
    Item("prefix_jaccard", "op", () => Graft.prefixJaccardJoin(
      read("clean").select(col("doc_id"), split(col("text"), " ").as("toks")),
      "doc_id", "toks", Threshold), write("edges")),
    Item("cc", "op", () => Graft.connectedComponents(read("edges"), "id_a", "id_b"),
      write("comps")),
    Item("cosine", "kernel", () => emb.select(col("vec_id") +: probes.zipWithIndex.map {
      case (p, i) => Graft.cosineSim(col("embedding"), typedLit(p)).as(s"cos$i")
    }: _*), Digest(_)),
    Item("semantic_dedup", "op", () => Graft.semanticDedup(emb, "embedding", "vec_id",
      Clusters, Iters, Tau), write("sem")),
    Item("ann_topk", "op", () => {
      val model = Graft.annTrain(emb, "embedding", "vec_id", Clusters, Iters)
      Graft.annTopKBatch(Graft.annAssign(emb, "embedding", model), "embedding", "vec_id",
        queries, "embedding", "vec_id", model, AnnK, NProbe)
    }, write("ann")),
    Item("write_clustered", "op", () => {
      val lexDup = read("comps").filter(col("component") =!= col("id")).select(col("id").as("doc_id"))
      val semDup = read("sem").filter(col("is_dup")).select(col("vec_id").as("doc_id"))
      read("clean").join(read("sims"), "doc_id")
        .join(lexDup, Seq("doc_id"), "left_anti")
        .join(semDup, Seq("doc_id"), "left_anti")
    }, df => {
      Graft.writeClustered(df, path("final"), Seq("sh", "doc_id"), RowsPerFile)
      Digest.Result(-1L, "")
    }))

  /** Oracle-free invariants over the last pass's outputs. */
  def checks(a: Map[String, String], check: String => (=> (Boolean, String)) => Unit): Unit = {
    check("corpus_fingerprint") {
      val r = docs.agg(count(lit(1)), sum(col("n_chars"))).head()
      val (n, chars) = (r.getLong(0), r.getLong(1))
      (n == a("n_docs").toLong && chars == a("sum_chars").toLong,
        s"$n docs, $chars chars; generator manifest ${a("n_docs")} docs, ${a("sum_chars")} chars")
    }
    check("dedup_keys_unique") {
      val out = read("final")
      val r = out.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
      val s = read("sem").agg(count(lit(1)), countDistinct(col("vec_id"))).head()
      (r.getLong(0) == r.getLong(1) && s.getLong(0) == s.getLong(1) && r.getLong(0) > 0,
        s"written ${r.getLong(0)} rows / ${r.getLong(1)} keys; semantic labels ${s.getLong(0)} / ${s.getLong(1)}")
    }
    // one query checks the real edges and flags a planted edge between two
    // different components (the self-test of this check)
    val (lo, hi) = {
      val r = read("comps").agg(min(col("component")), max(col("component"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val edges = read("edges").select(col("id_a"), col("id_b"), lit(false).as("planted"))
      .union(spark.createDataFrame(Seq((lo, hi, true))).toDF("id_a", "id_b", "planted"))
    val (bad, plantedBad, n) = crossEdges(edges)
    check("edge_endpoints_share_component") {
      (bad == 0 && n > 0, s"$bad of $n edges join two components (or lack a label)")
    }
    check("selftest.planted_cross_edge") {
      (lo != hi && plantedBad == 1, s"planted edge $lo-$hi flagged: ${plantedBad == 1}")
    }
    check("prefix_jaccard_brute_force") {
      val edges = read("edges").select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val rnd = new scala.util.Random(seed)
      val ids = (rnd.shuffle(edges.toSeq).take(100).flatMap(e => Seq(e._1, e._2)) ++
        Seq.fill(200)(rnd.nextInt(a("n_docs").toInt).toLong)).distinct
      val sample = read("clean").filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val sets = sample.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).sortBy(_._1)
      val brute = (for {
        i <- sets.indices; j <- (i + 1) until sets.size
        (a1, s1) = sets(i); (b1, s2) = sets(j)
        inter = (s1 & s2).size
        if inter.toDouble / (s1.size + s2.size - inter) >= Threshold
      } yield (a1, b1)).toSet
      val got = Graft.prefixJaccardJoin(sample, "doc_id", "toks", Threshold)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got == brute && brute.nonEmpty,
        s"${sets.length} sampled docs: ${brute.size} brute-force pairs, ${got.size} join pairs, " +
          s"${(brute -- got).size} missed, ${(got -- brute).size} extra")
    }
    check("ann_recall") {
      val corpusVecs = emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val units = corpusVecs.map { case (i, v) => i -> unit(v) }
      val qs = units.filter(_._1 % QueryEvery == 0)
      val got = read("ann").select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      var hits = 0L
      qs.foreach { case (q, qv) =>
        val exact = units.map { case (i, v) =>
          var d = 0.0; var k = 0
          while (k < v.length) { d += v(k) * qv(k); k += 1 }
          (-d, i)
        }.sorted.take(AnnK).map(_._2).toSet
        hits += (exact & got.getOrElse(q, Set.empty)).size
      }
      val recall = hits.toDouble / (qs.length * AnnK)
      val floor = a("ann_floor").toDouble
      (recall >= floor, f"recall@$AnnK $recall%.4f over ${qs.length} queries (floor $floor%.4f)")
    }
  }

  /** (real edges whose endpoints carry different or missing labels,
    * planted edges flagged the same way, real edges). */
  private def crossEdges(edges: DataFrame): (Long, Long, Long) = {
    val comps = read("comps")
    val la = comps.select(col("id").as("id_a"), col("component").as("ca"))
    val lb = comps.select(col("id").as("id_b"), col("component").as("cb"))
    val bad = col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb")
    val r = edges.join(la, Seq("id_a"), "left").join(lb, Seq("id_b"), "left")
      .agg(sum(when(bad && !col("planted"), 1).otherwise(0)),
        sum(when(bad && col("planted"), 1).otherwise(0)),
        sum(when(!col("planted"), 1).otherwise(0))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Pipeline {
  val Threshold = 0.8
  val Clusters = 16
  val Iters = 2
  val Tau = 0.95
  val AnnK = 10
  val NProbe = 4
  val QueryEvery = 50
  val RowsPerFile = 5000L
  val Ops: Seq[String] = Seq("prefix_jaccard", "cc", "semantic_dedup", "ann_topk", "write_clustered")
  val Kernels: Seq[String] = Seq("redact", "token_hashes", "simhash", "cosine")
}
