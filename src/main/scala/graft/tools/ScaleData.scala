package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: derive a K×-scaled copy of an sf directory for
  * data-proportionality measurement (`runMain graft.tools.ScaleData
  * [srcDir] [dstDir] [K]`). At sf0.1 the bench is constant-overhead
  * dominated (~0.8 s/query median), which can hide an accidentally
  * superlinear operator — timing the heavy queries at sf0.1 vs K× and
  * fitting t ∝ n^e exposes it.
  *
  * Fact AND entity-dimension tables replicate K times with key offsets
  * (order/customer/supplier/part key spaces stay disjoint per copy, and
  * fact FKs offset TOGETHER with their dims so every join stays valid)
  * — the TPC-H scaling convention, where only the fixed-cardinality
  * region/nation dims stay constant. Replicating facts against an
  * UNSCALED customer/supplier key space was the round-5 measurement
  * bug: the co-purchase graph kept the same nodes while edges tripled,
  * so triangle counting measured DENSIFICATION (inherently superlinear)
  * instead of growth — t(3×)/t(1×) read 11.6 when the honest same-
  * density exponent is ~1.
  *
  * Two tables get per-copy PERTURBATION, not plain replication, because
  * identical copies would change the workload's combinatorics, not just
  * its size: near-identical documents multiply LSH bucket collisions
  * quadratically (the first cut appended a tag token, which breaks
  * EXACT identity but leaves Jaccard ≈ 0.98 — every doc gained K-1
  * planted near-dups and the LSH measurement went quadratic the same
  * way). Copies now Caesar-shift the text's letters by the copy index:
  * token lengths, whitespace structure, and n_chars stay identical
  * (same tokenizer work, same quality scores) while every shingle set
  * becomes disjoint across copies. Embeddings rotate by the copy index
  * (preserves norms and pairwise-similarity distribution, decorrelates
  * copies).
  */
object ScaleData {
  def main(args: Array[String]): Unit = graft.harness.Harness.withSession { spark =>
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/scaledata/sf0.3"
    val k = if (args.length > 2) args(2).toInt else 3

    def copies(df: DataFrame): DataFrame =
      (0 until k).map(i => df.withColumn("_copy", lit(i.toLong)))
        .reduce(_ unionByName _)

    // disjoint key spaces per copy: offset = _copy * 10^12 (far above any
    // generated key)
    val off = col("_copy") * 1000000000000L

    // fixed-cardinality dims: unchanged (TPC-H keeps 5 regions/25 nations
    // at every SF)
    Seq("region", "nation").foreach { t =>
      val p = s"$src/$t.parquet"
      if (new java.io.File(p).exists)
        spark.read.parquet(p).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    // ER-name degeneracy fix (r14 verdict item 5): plain replication
    // kept c_name byte-identical across copies, so the name-blocked ER
    // queries (prefix-16 / suffix-8 blocks, levenshtein verify) saw
    // every block grow K× with IDENTICAL members — K² candidate work
    // that measured generator degeneracy, not engine scaling (the
    // customer-table analogue of the r14 shingle de-alias). Copy c > 0
    // now maps every digit of c_name through a copy-keyed POSITION-
    // DEPENDENT bijection d → (a·d + b + p·s) mod 10 (p = offset within
    // the digit run), uniform across the whole copy:
    //  - within a copy, per-position bijections preserve the workload
    //    exactly: name lengths and block MEMBERSHIP are untouched
    //    (prefix/suffix equality is positionwise), and the lev ≤ 1
    //    match set is bit-preserved — between equal-length strings
    //    lev 1 ⟺ hamming 1, and hamming distance is invariant under
    //    any per-position bijection;
    //  - across copies, the position term is the point: a copy-global
    //    affine map alone sends the zero PADDING of id-shaped names to
    //    one repeated digit b (a single digit of entropy — measured on
    //    the first cut: the 4 copies sharing b re-merged their
    //    prefix-16 blocks, maxblk 400 = 4×base). With the p·s term the
    //    padding becomes the sequence b, b+s, b+2s, …: distinct (b, s)
    //    pairs differ within any 2+ consecutive positions, so
    //    prefix-16 AND suffix-8 blocks are disjoint for K ≤ 100
    //    (b = c mod 10, s = (c div 10) mod 10), with the a-factor
    //    extending full-map injectivity to K ≤ 400. ER candidate
    //    counts then grow ~K, not K².
    // Copy 0 maps to (a=1, b=0, s=0) — the identity — so the base copy
    // stays byte-identical to the source, as with documents/embeddings.
    val AffUnits = Array(1, 3, 7, 9) // the units mod 10: each map is a bijection
    val perturbName = udf { (name: String, c: Long) =>
      if (name == null || c == 0L) name
      else {
        val b = (c % 10).toInt
        val st = ((c / 10) % 10).toInt
        val a = AffUnits(((c / 100) % 4).toInt)
        val sb = new java.lang.StringBuilder(name.length)
        var i = 0
        while (i < name.length) {
          var j = i
          while (j < name.length && name.charAt(j) >= '0'
            && name.charAt(j) <= '9') j += 1
          if (j > i) {
            var p = 0
            while (p < j - i) {
              val d = name.charAt(i + p) - '0'
              sb.append(('0' + (a * d + b + p * st) % 10).toChar)
              p += 1
            }
            i = j
          } else { sb.append(name.charAt(i)); i += 1 }
        }
        sb.toString
      }
    }

    // entity dims scale WITH the facts so join fan-in density (orders per
    // customer, lineitems per supplier/part) stays constant
    Seq("customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey").foreach { case (t, key) =>
      val base = copies(spark.read.parquet(s"$src/$t.parquet"))
        .withColumn(key, col(key) + off)
      val named =
        if (t == "customer")
          base.withColumn("c_name", perturbName(col("c_name"), col("_copy")))
        else base
      named.drop("_copy")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    val orders = spark.read.parquet(s"$src/orders.parquet")
    copies(orders)
      .withColumn("o_orderkey", col("o_orderkey") + off)
      .withColumn("o_custkey", col("o_custkey") + off)
      .drop("_copy")
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    copies(lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + off)
      .withColumn("l_partkey", col("l_partkey") + off)
      .withColumn("l_suppkey", col("l_suppkey") + off)
      .drop("_copy")
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    // events: go through Tables.events, which normalizes every physical
    // ts encoding the harness has shipped (TIMESTAMP(NANOS)-as-long, NTZ
    // micros, adjusted micros) to one session-UTC TIMESTAMP — the
    // derivative then always writes a faithful micro-precision TIMESTAMP
    // that both engines and the read shim handle identically. user_id
    // offsets too: K× users, same activity per user — the per-key state
    // distribution the stream/window operators see stays constant while
    // volume scales.
    val events = graft.Tables.events(spark, src)
    copies(events)
      .withColumn("event_id", col("event_id") + off)
      .withColumn("user_id", col("user_id") + off)
      .drop("_copy")
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // Per-copy text perturbation, copy index c = s + 26·r: every maximal
    // letter run w gets a CONTENT-KEYED Caesar shift t = (s + r·m_w)
    // mod 26 — m_w one of the 12 odd non-13 residues (the units mod 26,
    // all distinct mod 13), picked by an FNV hash of the lowercased base
    // run — then rotates by r mod |w|. Identical lengths and whitespace
    // (same tokenizer/quality work per doc); each run's map is a
    // bijection, so within-copy text statistics stay isomorphic to the
    // base corpus; r = 0 (all sf1.0 copies) degenerates to the plain
    // Caesar shift, so K ≤ 26 derivatives are byte-identical to the r13
    // generator's.
    //
    // Why content-keying (r14, closes the r12/r13 ADVICE floor): with a
    // copy-global shift, words invariant under the rotation delta
    // (1-letter always; L-letter when delta ≡ 0 mod L) collided across
    // shift classes — a measured 0.017% of the K=100 candidate mass.
    // No per-word length-preserving scheme can zero that per-WORD floor
    // (a 1-letter word has only 26 images; >26 copies must reuse one by
    // pigeonhole), but dedup work is keyed by SHINGLES, and a shingle
    // collides between copies (s,r) and (s',r') only if all three runs
    // satisfy s−s' ≡ (r'−r)·m_w (mod 26) SIMULTANEOUSLY: for r ≠ r'
    // that forces m_w1 = m_w2 = m_w3 (unit differences are nonzero mod
    // 13 and the r-delta at K=100 is ≤ 3), i.e. only shingles whose
    // three words hash into the SAME m-class (1/144 of random triples)
    // can ever alias, and only at one (s-delta, r-delta) each. The df
    // audit at sf10 (tools/shingle_audit.py; BASELINE.md r14) measures
    // the surviving floor on the regenerated K=100 derivative: 686 of
    // 2.72M distinct shingles (0.025%, was 4,998 under the copy-global
    // shift), all at rotation-invariant lengths {1,3} at r-delta 3 —
    // 26+132 repeated-word triples (pigeonhole-irreducible) plus 528
    // same-m coincidences — carrying 0.058% of the unfiltered Σdf²
    // candidate mass.
    val CaesarUnits: Array[Int] =
      Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val caesar = udf { (text: String, c: Long) =>
      if (text == null || c == 0L) text
      else {
        val s = (c % 26).toInt
        val r = (c / 26).toInt
        val sb = new java.lang.StringBuilder(text.length)
        var i = 0
        while (i < text.length) {
          var j = i
          while (j < text.length && text.charAt(j).isLetter) j += 1
          if (j > i) {
            val len = j - i
            val t =
              if (r == 0) s
              else {
                var h = 0x811c9dc5
                var p = i
                while (p < j) {
                  h = (h ^ Character.toLowerCase(text.charAt(p))) * 0x01000193
                  p += 1
                }
                (s + r * CaesarUnits(Integer.remainderUnsigned(h, 12))) % 26
              }
            val k = if (r == 0) 0 else r % len
            var p = 0
            while (p < len) {
              val ch = text.charAt(i + (k + p) % len)
              val out =
                if (ch >= 'a' && ch <= 'z') (((ch - 'a' + t) % 26) + 'a').toChar
                else if (ch >= 'A' && ch <= 'Z') (((ch - 'A' + t) % 26) + 'A').toChar
                else ch
              sb.append(out)
              p += 1
            }
            i = j
          } else { sb.append(text.charAt(i)); i += 1 }
        }
        sb.toString
      }
    }
    val documents = spark.read.parquet(s"$src/documents.parquet")
    copies(documents)
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text", caesar(col("text"), col("_copy")))
      .drop("_copy")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    // rotation aliases every `dim` copies (the Caesar problem in vector
    // space) — past that, alternate-dim sign flips (norm-preserving,
    // decorrelating) key the second factor: dim·2 distinct copies
    val rot = udf { (v: Array[Float], c: Long) =>
      if (v == null || v.isEmpty || c == 0L) v
      else {
        val n = v.length; val s = (c % n).toInt
        val f = ((c / n) % 2L) == 1L
        Array.tabulate(n) { i =>
          val x = v((i + s) % n)
          if (f && i % 2 == 0) -x else x
        }
      }
    }
    copies(emb)
      .withColumn("embedding", rot(col("embedding"), col("_copy")))
      .withColumn("vec_id", col("vec_id") + off)
      .drop("_copy")
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"[scale] wrote ${k}x of $src to $dst")
  }
}
