package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility: synthesize a larger scale factor from an existing one by
  * key-remapped union-multiplication, for the SCALING.md rehearsal
  * (`sbt "runMain graft.ScaleUp [srcDir dstDir mult]"`).
  *
  * Each copy k remaps every surrogate key by `k * (max_key + 1)` with FK
  * offsets applied consistently within the copy, so key cardinality scales
  * with volume (10× rows ⇒ 10× customers/users/docs — the realistic growth
  * direction; duplicating keys instead would measure "10× denser groups",
  * a different regime than corpus growth). Content-sensitive tables get a
  * per-copy salt so the multiplied corpus keeps its planted statistical
  * structure instead of collapsing into k-way duplicate families:
  *
  *  - `documents.text` word-salts every token with the copy index: planted
  *    near/exact-duplicate pairs stay duplicates WITHIN a copy (linear
  *    growth in dup pairs), while cross-copy texts share no shingles — an
  *    unsalted multiply would turn every doc into a 10-way near-dup family
  *    and blow candidate pairs up 100×, measuring an artifact.
  *  - `embeddings.embedding` rotates the vector by k positions: norms and
  *    the per-component distribution are preserved, but copies of the same
  *    vector decorrelate (near-uniform random vectors, so a rotation is as
  *    far away as an unrelated vector) — identical copies would put 10
  *    coincident points in every k-means/LSH cell and square the
  *    within-cell pair work.
  *
  * Constant dims (`region`, `nation`) stay constant — that is their 100 TB
  * behavior too.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    // Document-salt mode (arg 4): "word" (default) keeps the source's
    // TEMPLATED vocabulary — cross-copy grams mostly shared, the few-
    // thousand-gram property synthetic corpora have at any size. "vocab"
    // additionally suffixes every word type with a copy-keyed md5 fragment,
    // so the 4-gram vocabulary grows ~linearly with copies — the real-web
    // property (heaps' law) that flips d4's adaptive gate to the PPJoin
    // prefix path. Both modes preserve within-copy duplicate structure
    // (the transform is deterministic per word type per copy).
    val docSalt = if (args.length > 3) args(3) else "word"
    require(docSalt == "word" || docSalt == "vocab", s"bad docSalt mode $docSalt")
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val spark = GraftSession("graft.ScaleUp")

    def rd(name: String): DataFrame = Tables.t(spark, src, name)
    /** Offset stride for a surrogate key: copy k adds k·(max+1). */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).head().getLong(0) + 1L

    /** Union `mult` remapped copies and write. `remap(df, k)` must keep the
      * exact source schema (names, types, order).
      */
    def emit(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(name)
      val out = (0 until mult).map(k => remap(base, k)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"SCALEUP $name -> ${mult}x")
    }
    def shiftKeys(df: DataFrame, k: Int, strides: Map[String, Long]): DataFrame =
      strides.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, (col(c) + lit(s * k)).cast("long"))
      }

    // constant dims: one copy regardless of mult
    Seq("region", "nation").foreach { name =>
      rd(name).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"SCALEUP $name -> 1x (constant dim)")
    }

    val custS = stride(rd("customer"), "c_custkey")
    val suppS = stride(rd("supplier"), "s_suppkey")
    val partS = stride(rd("part"), "p_partkey")
    val ordS = stride(rd("orders"), "o_orderkey")

    emit("customer")((df, k) => shiftKeys(df, k, Map("c_custkey" -> custS)))
    emit("supplier")((df, k) => shiftKeys(df, k, Map("s_suppkey" -> suppS)))
    emit("part")((df, k) => shiftKeys(df, k, Map("p_partkey" -> partS)))
    emit("orders")((df, k) =>
      shiftKeys(df, k, Map("o_orderkey" -> ordS, "o_custkey" -> custS)))
    emit("lineitem")((df, k) =>
      shiftKeys(df, k, Map(
        "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)))

    val evS = stride(rd("events"), "event_id")
    val userS = stride(rd("events"), "user_id")
    emit("events")((df, k) =>
      // 10× users over the same wall-clock span: per-user timeline density
      // (what bounds window/session state) stays constant, partition COUNT
      // grows — the direction real traffic grows
      shiftKeys(df, k, Map("event_id" -> evS, "user_id" -> userS)))

    val docS = stride(rd("documents"), "doc_id")
    // "vocab" mode's class count: the synthetic source is fully TEMPLATED —
    // its median gram hits ~1-2% of documents, so even the "rarest" 40% of
    // each doc's grams (a PPJoin prefix) carries df in the tens and every
    // prefix gram mints ~df² candidate pairs (measured: 8 fixed jitter
    // classes left median prefix-gram df at 75 and Σdf² at 864M — 532 s at
    // sf1 for an operator that should be linear). Real web text has
    // Heaps-law vocabulary where rare grams hit a HANDFUL of documents.
    // Splitting each copy into C ≈ srcDocs/6 content-keyed classes lands
    // every salted gram's df at ≤ ~6 (a class holds ~6 docs and nothing is
    // shared across classes), which is the property the rehearsal exists to
    // model. The class key is a pure function of the text, so exact-dup
    // families land in one class and survive salting in every copy;
    // template-similarity near-dup pairs dilute across classes — the
    // boilerplate/exact families that dominate real-web near-dup output are
    // the ones kept.
    val srcDocs = rd("documents").count()
    val vocabClasses = math.max(64L, srcDocs / 4)
    emit("documents") { (df, k) =>
      val shifted = shiftKeys(df, k, Map("doc_id" -> docS))
      // "word" mode keeps copy 0 byte-identical to the source (the
      // multiplied corpus is a superset — what the oracle-rehearsal sf1
      // relies on). "vocab" mode salts EVERY copy, 0 included: an unsalted
      // copy 0 would leave a 1/mult templated sub-corpus with exactly the
      // quadratic-candidate property the class split removes.
      val saltedWord: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (docSalt == "vocab") {
          // per-word-type copy-and-class-keyed 12-char suffix: each
          // distinct word mints ~14 brand-new 4-grams per (copy, class), so
          // the 4-gram vocabulary grows ~linearly with copies — the
          // real-web property that flips d4's adaptive gate to the PPJoin
          // prefix path. Two measured traps shape the suffix:
          //  - It must be LONG. A window covering the last word chars plus
          //    h < 4 salt chars is keyed by only |A|^h salt values, i.e.
          //    shared copy-wide at df/|A|^h; the source has ~23 distinct
          //    word types per ~290-gram doc, so ~12 suffix chars are
          //    needed before class-keyed (df ≤ class size) grams alone can
          //    fill the rarest-40% prefix.
          //  - The alphabet must be WIDE. Hex salt saturates: 16^4 = 65536
          //    possible salt 4-grams vs millions of (word, copy, class)
          //    windows, so unrelated salts collide into shared grams —
          //    measured median gram df 22 instead of the class size 4.
          //    Decoding raw md5 bytes as ISO-8859-1 gives |A| ≈ 256
          //    (4-gram space 4.3B): collision-free at 100× and 1000×.
          // The transform is deterministic per (word type, copy, class), so
          // within-class duplicate structure is preserved exactly. cls
          // references the pre-salt text of this projection.
          val cls = pmod(xxhash64(col("text")), lit(vocabClasses))
          w => concat(w,
            decode(unhex(substring(md5(concat(w, lit(s"#$k#"), cls)), 1, 24)),
              "ISO-8859-1"))
        } else w => concat(w, lit("~" + k))
      if (k == 0 && docSalt == "word") shifted
      else {
        val salted = shifted.withColumn("text",
          array_join(transform(split(col("text"), " "), saltedWord), " "))
        salted.withColumn("n_chars", length(col("text")).cast("long"))
          .select(df.columns.map(col).toIndexedSeq: _*)
      }
    }

    val vecS = stride(rd("embeddings"), "vec_id")
    emit("embeddings") { (df, k) =>
      val shifted = shiftKeys(df, k, Map("vec_id" -> vecS))
      if (k == 0) shifted
      else shifted.withColumn("embedding",
          concat(
            slice(col("embedding"), lit(k + 1), size(col("embedding")) - k),
            slice(col("embedding"), lit(1), lit(k))))
        .select(df.columns.map(col).toIndexedSeq: _*)
    }

    spark.stop()
  }
}
