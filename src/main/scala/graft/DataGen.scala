package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scales the driver's synthetic testdata to a larger scale factor by
  * replicating each table `copies` times with CONSISTENT key offsets
  * (every key column — PK and FK alike — shifts by `copy * STRIDE`, so
  * referential integrity and join fan-outs are preserved exactly).
  *
  * Shapes held invariant by construction:
  *  - dimension hierarchies: region/nation stay fixed (as in TPC-H);
  *    customer/supplier/part/orders/lineitem/events/documents/embeddings
  *    scale linearly, matching TPC-H's sf-proportional row counts
  *    (10 x sf0.1 == sf1's 150k customer / 1.5M orders / 6M lineitem);
  *  - documents: per-copy CONTENT-based token salting (copies <= 10: a
  *    token is salted iff md5(token) % 3 == 0; copies > 10: EVERY token
  *    is salted — disjoint-vocabulary shards; both mapped injectively
  *    per copy) keeps within-copy token-set Jaccard EXACTLY equal to
  *    the source corpus — duplicate-group multiplicity stays constant
  *    while cross-copy Jaccard drops to ~0.5 (partial) / 0 (full),
  *    below every near-dup threshold (0.75/0.82). Without this, naive
  *    replication would multiply dup-group sizes by `copies` and
  *    quadratic-output contracts (d28) would measure the replication
  *    artifact, not the operator; and past ~10 copies the partial mode's
  *    FIXED unsalted vocabulary concentrates minhash band buckets
  *    (LSH candidates grow quadratically in copies — measured: 204M
  *    pairs at 100 copies), so big replications switch to full salting.
  *  - embeddings: copies <= 10 apply deterministic per-copy jitter
  *    (±3e-3 per component — breaks exact-distance ties but leaves
  *    cos~0.9999 near-dup cliques of size `copies`); copies > 10 ALSO
  *    apply a per-copy orthonormal dimension permutation, which
  *    decorrelates copies entirely. The two regimes therefore have
  *    DIFFERENT near-dup structure: cross-SF similarity ratios that
  *    straddle the copies=10 boundary (e.g. an sf10-jitter fixture vs
  *    an sf100-permutation fixture) are not like-for-like on clique
  *    shape — compare fixtures from the same regime, or read e09-style
  *    ratios with that caveat (BenchHeavy's artifact note records it).
  *    SPARK_GRAFT_EMB_CLIQUE=g generates the HYBRID regime: one shared
  *    permutation per group of g copies, so cliques keep a constant
  *    size g at every SF — the like-for-like chain for similarity
  *    operators (SPARK_GRAFT_ONLY_TABLES=embeddings makes such a
  *    side-fixture cheap);
  *  - events: timestamps shift by `copy` seconds (density scales,
  *    window boundaries keep realistic spread).
  *
  * Usage: runMain graft.DataGen <srcDir> <dstDir> <copies> [dir]
  *
  * The optional 4th arg `dir` switches big tables to DIRECTORY parquet
  * output (one part file per partition, no coalesce(1)): the single-file
  * mode funnels the whole replicate pipeline through ONE task (coalesce
  * collapses the upstream stage), which is fine at 10-100 copies but
  * would serialize a 1000-copy (sf100) build of 600M lineitem rows.
  * Directory mode writes one part file per task of the replicate
  * pipeline's own partitioning (the `spark.range(copies)` side of the
  * cross join fans the copies across the session — no explicit
  * repartition); row ORDER within part files is whatever that plan
  * produces and the fixture is treated as fixed once generated (all
  * consumers are order-insensitive).
  */
object DataGen {
  private val STRIDE = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val dirMode = args.length > 3 && args(3) == "dir"
    // generation is write- and disk-bound (15 GB at sf100): compress
    val spark = GraftSession.local(GraftSession.cpus(32), compressShuffle = true)
    new java.io.File(dstDir).mkdirs()

    // SPARK_GRAFT_ONLY_TABLES=embeddings[,documents,...]: generate just
    // the named tables (side-measurement fixtures — e.g. the e09
    // same-regime chain needs only embeddings; replicating the other
    // eight tables would cost 15 GB per SF for nothing). Default: all.
    val onlyTables: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY_TABLES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = onlyTables.forall(_.contains(name))

    def out(name: String, df: DataFrame): Unit = if (wanted(name)) {
      if (dirMode && df.columns.contains("_copy")) {
        // parallel path: spread copies across tasks, write a parquet
        // DIRECTORY at the same `<name>.parquet` location Spark and
        // DuckDB both read transparently
        val dst = s"$dstDir/$name.parquet"
        val old = new java.io.File(dst)
        if (old.isFile) old.delete()
        // already partitioned by the range side of the replicate join —
        // no shuffle here, each task writes its copies' rows directly
        df.drop("_copy")
          .write.mode("overwrite")
          .option("parquet.block.size", (16 * 1024 * 1024).toString)
          .parquet(dst)
        println(s"[datagen] $name: ${spark.read.parquet(dst).count()} rows")
      } else {
        val tmp = s"$dstDir/_tmp_$name"
        // ~16 MB row groups so one big file still splits across executors
        df.drop("_copy").coalesce(1).write.mode("overwrite")
          .option("parquet.block.size", (16 * 1024 * 1024).toString)
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$dstDir/$name.parquet")
        if (dst.exists()) dst.delete()
        java.nio.file.Files.move(part.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
        println(s"[datagen] $name: ${spark.read.parquet(dst.toString).count()} rows")
      }
    }

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    def replicate(name: String, keys: Seq[String], saltNames: Seq[String] = Nil)
                 (extra: DataFrame => DataFrame = identity): Unit = if (wanted(name)) {
      // gated at the top, not just at out(): extra() runs eagerly while
      // building the frame (the embeddings branch reads the source dim),
      // and an excluded table must cost nothing — nor require its
      // source file to exist
      val base = src(name)
      // dir mode: the RANGE side carries the parallelism (one partition
      // per ~4 copies, deterministic — spark.range slices need no
      // shuffle) and the source table broadcasts; each task computes and
      // writes its copies locally. Single-file mode keeps the original
      // shape (source-side partitions, coalesced write).
      val rep =
        if (dirMode)
          spark.range(0, copies, 1, math.min(256, copies))
            .select(col("id").as("_copy"))
            .crossJoin(broadcast(base))
        else base.crossJoin(
          spark.range(copies).select(col("id").as("_copy")))
      val keyed = keys.foldLeft(rep)((df, k) =>
        df.withColumn(k, col(k) + col("_copy") * STRIDE))
      val salted = saltNames.foldLeft(keyed)((df, n) =>
        df.withColumn(n, when(col("_copy") === 0, col(n))
          .otherwise(concat(col(n), lit("#"), col("_copy")))))
      // keep _copy through to out(): its PRESENCE is how out() detects a
      // replicated (big) table and takes the parallel directory path —
      // both modes drop the column before writing
      out(name, extra(salted).select((base.columns :+ "_copy").map(col): _*))
    }

    // gated BEFORE src(): the argument would otherwise read the source
    // parquet eagerly, so an excluded tiny table would still require its
    // file to exist (the single-table side-fixture use case)
    if (wanted("region")) out("region", src("region"))
    if (wanted("nation")) out("nation", src("nation"))
    replicate("customer", Seq("c_custkey"), Seq("c_name"))()
    replicate("supplier", Seq("s_suppkey"), Seq("s_name"))()
    replicate("part", Seq("p_partkey"), Seq("p_name"))()
    replicate("orders", Seq("o_orderkey", "o_custkey"))()
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    replicate("events", Seq("event_id", "user_id")) { df =>
      df.withColumn("ts", col("ts") + expr("make_dt_interval(0, 0, 0, _copy)"))
    }
    // The PARTIAL salt map t -> t_<copy> is injective per copy ONLY if no
    // UNSALTED source token already has the image shape: an unsalted
    // `x_k` (1 <= k < copies) whose stem `x` IS salted would merge with
    // salted x's image in copy k — quietly breaking the
    // within-copy-Jaccard-exactly-preserved invariant the near-dup
    // contracts depend on. Assert the source vocabulary is clean before
    // replicating (one datagen-time pass over the distinct vocabulary).
    // Full salting (copies > 10, see below) renames EVERY token, which is
    // injective unconditionally (t1_k == t2_k implies t1 == t2) — no
    // vocabulary precondition.
    if (copies <= 10 && wanted("documents")) locally {
      import org.apache.spark.sql.Column
      def isSalted(t: Column) =
        conv(substring(md5(t), 1, 4), 16, 10).cast("long") % 3 === 0
      val collisions = src("documents")
        .select(explode(split(col("text"), " ")).as("tok")).distinct()
        .filter(col("tok").rlike("^.+_[0-9]+$") && !isSalted(col("tok")))
        .withColumn("stem", regexp_extract(col("tok"), "^(.+)_([0-9]+)$", 1))
        .withColumn("k", regexp_extract(col("tok"), "^(.+)_([0-9]+)$", 2)
          .cast("long"))
        .filter(col("k") >= 1 && col("k") < copies && isSalted(col("stem")))
        .select("tok").limit(5).collect().map(_.getString(0))
      require(collisions.isEmpty,
        s"datagen: source vocabulary tokens ${collisions.mkString(", ")} " +
          "collide with the per-copy salt image shape (stem_k with salted " +
          "stem, k < copies) — replication would merge distinct tokens; " +
          "pick a different salt separator for this corpus")
    }
    replicate("documents", Seq("doc_id")) { df =>
      // content-based injective token mapping per copy (see scaladoc).
      // PARTIAL salting (1/3 of the vocabulary, content-hash-selected)
      // keeps cross-copy Jaccard ~0.5 — realistic near-dup texture for a
      // 10x replication. Beyond 10 copies it stops being realistic and
      // starts measuring its own artifact: the UNSALTED 2/3 of the
      // vocabulary is FIXED while the corpus grows, so minhash band
      // buckets concentrate on the globally-smallest shared tokens and
      // LSH candidate volume grows QUADRATICALLY in copies (measured at
      // 100 copies: 204M band-bucket pairs, hot buckets of 4k+ docs — a
      // property of fixed-vocabulary replication, not of the operators;
      // real corpora grow vocabulary with size). For copies > 10 salt
      // EVERY token instead: each copy is a disjoint-vocabulary,
      // statistically identical shard — within-copy Jaccard is still
      // EXACTLY preserved (full injective rename), duplicate-group
      // multiplicity constant — so scale smokes measure the ENGINE, not
      // vocabulary concentration.
      val saltAll = copies > 10
      val saltedText = array_join(
        transform(split(col("text"), " "), t =>
          when(col("_copy") > 0 &&
               (if (saltAll) lit(true)
                else conv(substring(md5(t), 1, 4), 16, 10).cast("long") % 3 === 0),
               concat(t, lit("_"), col("_copy"))).otherwise(t)), " ")
      df.withColumn("text", saltedText)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings", Seq("vec_id")) { df =>
      import org.apache.spark.sql.Column
      def jitter(e: Column) = transform(e, (x, j) =>
        (x + ((col("_copy") * 31 + j) % 7 - 3).cast("float") * lit(1e-3f))
          .cast("float"))
      // SPARK_GRAFT_EMB_CLIQUE=g (1 <= g <= copies): hybrid fixture
      // regime — copies share ONE dimension permutation per GROUP of g
      // consecutive copies (jitter still differs per copy), so cross-copy
      // near-dup cliques keep a CONSTANT size g at EVERY scale factor.
      // This is the like-for-like e09 chain: sf1 (copies=10, pure jitter,
      // cliques of 10) vs a g=10 sf10 (cliques of 10) vs a g=10 sf100
      // (cliques of 10) all share the same near-dup structure, unlike the
      // standard regimes where clique size is `copies` below 10 and 1
      // above. 0/unset keeps the standard behavior.
      val clique = sys.env.getOrElse("SPARK_GRAFT_EMB_CLIQUE", "0").toInt
      // fail fast instead of silently generating a structurally different
      // fixture: the knob only has meaning in the permutation branch, and
      // g > copies would degenerate to identity permutations (cliques of
      // `copies`, not g)
      require(clique == 0 || (copies > 10 && clique >= 1 && clique <= copies),
        s"SPARK_GRAFT_EMB_CLIQUE=$clique requires copies > 10 (got $copies) " +
          "and 1 <= g <= copies — the hybrid regime only exists where the " +
          "standard regime would permute")
      if (copies <= 10) df.withColumn("embedding", jitter(col("embedding")))
      else {
        // the embedding twin of full token salting (copies > 10): a
        // per-copy deterministic DIMENSION PERMUTATION. Within a copy
        // every dot product — hence every cosine, every near-dup pair,
        // every cluster structure — is EXACTLY invariant (a shared
        // coordinate permutation is orthonormal), so duplicate-group
        // multiplicity stays constant; across copies the permuted
        // clones of one base vector decorrelate to ~random cosine.
        // Without this, the small tie-breaking jitter leaves cross-copy
        // clones at cos ≈ 0.9999, and any similarity-threshold operator
        // (e09's 0.92 semantic dedup) sees a near-dup CLIQUE of size
        // `copies` per base vector — pair volume quadratic in copies
        // (measured at 1000 copies: ~5e8 pairs, >60 GB of edge shuffle
        // and checkpoint — a replication artifact, not engine cost).
        val dim = src("embeddings")
          .select(size(col("embedding"))).head().getInt(0)
        // one permutation per copy (standard) or per group of `clique`
        // copies (hybrid): group 0 keeps identity so copy 0 stays the
        // base corpus in both regimes
        val g = math.max(1, clique)
        val nPerms = (copies + g - 1) / g
        val perms: Seq[Seq[Int]] = (0 until nPerms).map { c =>
          if (c == 0) 0 until dim
          else new scala.util.Random(c * 7919L + 13)
            .shuffle((0 until dim).toList)
        }
        val permLit = typedlit(perms)
        val permIdx = (col("_copy") / lit(g)).cast("int")
        val permuted = transform(sequence(lit(0), lit(dim - 1)), j =>
          element_at(col("embedding"),
            element_at(element_at(permLit, permIdx + lit(1)),
                       j + lit(1)) + lit(1)))
        df.withColumn("embedding", jitter(permuted))
      }
    }
    spark.stop()
  }
}
