package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the per-family query traits: the corpus
  * fixtures, the content-addressed [[SessionArtifacts]] parquet store
  * and its builders, and the reusable oracle-SQL fragments/builders.
  * Split from the monolithic `SparkEntry.scala` in round 11.
  */
private[graft] trait EntrySupport { this: SparkEntry.type =>

  import Tables._

  // ------------------------------------------------------ LLM pipeline

  /** Dedup test corpus: the documents plus exact copies (doc_id+1000000,
    * every 5th doc) and near-dup mutations (doc_id+2000000, every 7th doc
    * with the first 3 words dropped) — guarantees non-trivial dedup
    * output and is reproducible in SQL.
    */
  private[graft] def dedupCorpus(s: SparkSession, d: String): DataFrame = {
    // documents.parquet is a single small file → ONE input split; the
    // md5/shingle pipelines are CPU-bound, so spread rows across all
    // cores (on a real corpus the file splits provide this for free)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    docs
      .unionAll(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^(\\S+\\s+){3}", "").as("text")))
  }

  // ---------------------------------------------------------------- q24
  /** CONTENT-ADDRESSED parquet artifact store for pipeline intermediates
    * shared by several queries (written once as parquet, read back with
    * file-based size statistics): whichever consumer runs first pays the
    * generation pass, everyone
    * else — including LATER SESSIONS — reads parquet.
    *
    * Addressing: an artifact lives at
    * `<cacheRoot>/<md5(sf-dir inputs)>/<name>-v<builderVersion(name)>`
    * where the input key hashes every input parquet file's
    * (name, size, mtime) and the builder version is PER ARTIFACT
    * ([[BuilderVersions]]): editing one builder re-keys exactly that
    * artifact — the other entries stay warm (spec-pinned; a GLOBAL
    * version would silently rebuild all four on any operator edit).
    * A changed corpus or changed builder code therefore changes the
    * address — the stale artifact is simply never addressed again
    * (invalidation by construction); a back-to-back rerun on the same
    * corpus re-reads day-1 artifacts at ~0 cost — the
    * incremental-pipeline shape a 100 TB curation run needs (day-2
    * dedup must not rebuild day-1 pairs).
    *
    * Lifecycle: cached artifacts are durable (reuse across sessions is
    * the point); Bench and Verify point the root at a fresh per-run
    * directory and delete it themselves. Completeness is judged by parquet's
    * `_SUCCESS` marker; builds write to a temp sibling and move into
    * place atomically, so a crashed build can never be mistaken for a
    * finished artifact. Setting `GRAFT_ARTIFACT_CACHE` (env) or
    * `graft.artifact.cache` (sys-prop, spec hook) relocates the root;
    * a real 100 TB run points it at durable shared storage.
    */
  private[graft] object SessionArtifacts {
    /** Per-artifact builder versions: bump an entry when THAT builder's
      * semantics change — only its artifact re-keys; the rest stay
      * warm. (History: every builder was last touched at or before the
      * round-9 `knnEdgesLsh` hot-bucket cap; the r10 schema switch
      * itself re-keys everything once via the new directory layout.)
      */
    val BuilderVersions: Map[String, String] = Map(
      "pairs" -> "r9-1", "labels" -> "r9-1",
      "epairs" -> "r9-1", "edges" -> "r9-1",
      "tris" -> "r12-1", "lpa" -> "r12-1").withDefaultValue("r10-1")
    /** Effective version — `graft.artifact.version.<name>` (sys-prop)
      * overrides for specs that pin the one-artifact-rebuild contract.
      */
    def builderVersion(name: String): String =
      sys.props.getOrElse(s"graft.artifact.version.$name",
        BuilderVersions(name))
    private val buildLock = new Object
    private def rmTree(p: String): Unit = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(p)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    def cacheRoot: String =
      sys.props.get("graft.artifact.cache")
        .orElse(sys.env.get("GRAFT_ARTIFACT_CACHE"))
        .getOrElse(sys.props("java.io.tmpdir") + "/graft-artifact-cache")
    /** md5 over the sf dir's input parquet stats (inputs ONLY — builder
      * versions live in the per-artifact directory name): coarse (ANY
      * table change re-keys every artifact) but exactly as strong as
      * the invalidation contract needs — false rebuilds cost one
      * generation pass; a false HIT would be silent wrong data.
      */
    def contentKey(d: String): String = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val dir = Paths.get(d)
      val stats =
        if (!Files.isDirectory(dir)) s"missing:$d"
        else {
          val ls = Files.list(dir)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
            .map(p => s"${p.getFileName}:${Files.size(p)}:" +
              s"${Files.getLastModifiedTime(p).toMillis}")
            .mkString("|")
          finally ls.close()
        }
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d|$stats".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
    def getOrBuild(name: String, s: SparkSession, d: String)
                  (build: => DataFrame): DataFrame = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Paths.get(cacheRoot, contentKey(d),
        s"$name-v${builderVersion(name)}")
      if (!Files.exists(dir.resolve("_SUCCESS"))) buildLock.synchronized {
        if (!Files.exists(dir.resolve("_SUCCESS"))) {
          Files.createDirectories(dir.getParent)
          val tmp = dir.getParent.resolve(s".tmp_${name}_${System.nanoTime()}")
          build.write.mode("overwrite").parquet(tmp.toString)
          // row count recorded at build time (footer-stats count on the
          // just-written files — cheap), so measured-strategy sites read
          // the manifest instead of running a count job per call
          val n = s.read.parquet(tmp.toString).count()
          Files.writeString(tmp.resolve(ManifestFile),
            s"""{"manifest_version": 1, "rows": $n}""")
          try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
          catch { // lost a cross-JVM race: the winner's artifact is equivalent
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.FileSystemException
              if Files.exists(dir.resolve("_SUCCESS")) => rmTree(tmp.toString)
          }
        }
      }
      s.read.parquet(dir.toString)
    }

    private val ManifestFile = "_graft_manifest.json"
    private val RowsRe = """"rows"\s*:\s*(\d+)""".r.unanchored
    private val countCache = scala.collection.concurrent.TrieMap[String, Long]()

    /** The artifact's recorded row count — manifest first, else one
      * footer-stats count backfilled into a manifest (pre-manifest warm
      * caches), memoized per JVM. Only meaningful AFTER [[getOrBuild]]
      * has produced the artifact; returns None when it never ran.
      */
    def rowCount(name: String, s: SparkSession, d: String): Option[Long] = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Paths.get(cacheRoot, contentKey(d),
        s"$name-v${builderVersion(name)}")
      if (!Files.exists(dir.resolve("_SUCCESS"))) None
      else Some(countCache.getOrElseUpdate(dir.toString, {
        val fromManifest = {
          val p = dir.resolve(ManifestFile)
          if (Files.exists(p)) RowsRe.findFirstMatchIn(Files.readString(p))
            .map(_.group(1).toLong)
          else None
        }
        fromManifest.getOrElse {
          val n = s.read.parquet(dir.toString).count()
          val tmp = dir.resolve(s".tmp_manifest_${System.nanoTime()}")
          Files.writeString(tmp,
            s"""{"manifest_version": 1, "rows": $n}""")
          try Files.move(tmp, dir.resolve(ManifestFile),
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileSystemException =>
            Files.deleteIfExists(tmp) }
          n
        }
      }))
    }
  }

  /** One PPJoin pass shared by q24 (pairs), q67/q104/q113 (via labels),
    * and q126: the verified pair set is computed once per
    * (session, sf-dir); the other consumers read the artifact instead of
    * re-running shingle → prefix → verify over the corpus. At pipeline
    * scale this is the difference between one PPJoin pass and N.
    */
  private[graft] def dedupPairs(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("pairs", s, d) {
      operators.TextDedup.jaccardPairsPrefix(dedupCorpus(s, d), "doc_id", "text",
        k = 3, threshold = 0.6)
    }

  /** Connected-components labels over [[dedupPairs]], memoized the same
    * way: q67 (clusters) and q104 (canonical election) consume the SAME
    * label set, so the O(log n)-round iteration runs once per
    * (session, sf-dir) and lands in a parquet artifact.
    */
  private[graft] def dedupLabels(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("labels", s, d) {
      operators.ConnectedComponents.labels(dedupPairs(s, d), "id1", "id2")
    }

  /** q28/q97 share one LSH pair-generation pass — the embedding analog
    * of [[dedupPairs]]: the verified pair set is computed once per
    * (session, sf-dir) and materialized as a parquet artifact; the
    * second consumer reads the artifact instead of re-hashing and
    * re-verifying the corpus.
    */
  private[graft] def embedPairs(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("epairs", s, d) {
      val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism)
      val corpus = e.unionAll(e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("label"), col("embedding")))
      operators.Similarity.nearDupPairsLsh(corpus, threshold = 0.99)
    }

  /** One co-purchase pair build shared by q83 (PageRank), q119
    * (triangles), and q128 (association rules): the distinct
    * (order, part) self-join — the expensive O(Σ basket²) pass — is
    * grouped to `(pa, pb, n_both)` with `pa < pb` once per
    * (session, sf-dir). q128 reads the support counts directly; the
    * graph queries project the unique undirected pair set (PageRank
    * mirrors it into both orientations — identical to its internal
    * DISTINCT of the raw directed join).
    */
  private[graft] def copurchasePairs(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("edges", s, d) {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("n_both"))
    }

  /** Canonical full-co-purchase edge list, derived from
    * [[copurchasePairs]] (already pa < pb distinct — the canonical
    * pass just renames and re-guards).
    */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    operators.Triangles.canonicalEdges(
      copurchasePairs(s, d).select(col("pa"), col("pb")), "pa", "pb",
      assumeCanonical = true)

  /** One triangle ENUMERATION of the full co-purchase graph shared by
    * q119 (census), q140 (per-node clustering), and q218 (k-truss
    * round-1 support): the O(m^1.5) oriented wedge join — the single
    * dominant cost of all three queries on the sf~1 ladder (38 + 63 +
    * 79 s, each re-paying the same pass) — runs once per
    * (session, sf-dir) and lands in a `(u, v, w)` parquet artifact.
    * The triangle SET is orientation-independent, so every consumer's
    * oracle replays unchanged.
    */
  private[graft] def triangleList(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("tris", s, d) {
      // the edges artifact exists by the time this builder runs
      // (copurchaseEdges derives from it), so its manifest count prices
      // the closing-edge strategy without a count job
      operators.Triangles.enumerate(copurchaseEdges(s, d), "trisArtifact",
        knownEdges = SessionArtifacts.rowCount("edges", s, d))
    }

  /** One 5-round LPA labeling of the full co-purchase graph shared by
    * q134 (communities) and q306 (modularity): the five synchronous
    * label-join rounds — the dominant cost of both queries — run once
    * per (session, sf-dir) and land in a
    * `(node, community, community_size)` parquet artifact.
    */
  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.getOrBuild("lpa", s, d) {
      operators.LabelPropagation.communities(
        copurchasePairs(s, d).select(col("pa").as("src"),
          col("pb").as("dst")),
        "src", "dst", rounds = 5, assumeCanonical = true)
    }

  // ----------------------------------------------------- source round-trips

  /** Nation rendered as `n_nationkey;n_name;n_regionkey` CSV lines
    * (driver-side, 25 rows — a fixture generator, not a data path).
    */
  private[graft] def nationCsv(s: SparkSession, d: String): String = {
    val rows = nation(s, d).orderBy(col("n_nationkey")).collect()
    val body = rows.map(r => s"${r.getInt(0)};${r.getString(1)};${r.getInt(2)}")
    ("n_nationkey;n_name;n_regionkey" +: body).mkString("\n")
  }

  private[graft] def castNation(df: DataFrame): DataFrame =
    df.select(col("n_nationkey").cast("int"), col("n_name").cast("string"),
        col("n_regionkey").cast("int"))
      .orderBy(col("n_nationkey"))

  // --- shared DuckDB SQL fragments for the LLM-pipeline oracles -------

  /** Whitespace tokens of lowercased text (mirrors TextAnalysis.tokens). */
  private[graft] val SqlToks =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""

  /** The dedup corpus CTE body (mirrors dedupCorpus). */
  private[graft] val SqlCorpus =
    """corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      | UNION ALL SELECT doc_id + 2000000 AS doc_id,
      |  regexp_replace(text, '^(\S+\s+){3}', '') AS text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Distinct word-3-gram shingles per corpus doc (mirrors
    * TextShingles.shingles with k=3 + array_distinct).
    */
  private[graft] val SqlShingles3 =
    s"""tok AS (SELECT doc_id, $SqlToks AS toks FROM corpus),
       |shl AS (SELECT doc_id,
       | CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(generate_series(1, len(toks) - 2),
       |            i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END AS shingles
       | FROM tok),
       |s AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shl)""".stripMargin

  /** 32-term SimHash sum (mirrors TextDedup.simhash32). */
  private[graft] val SqlSimhash: String = (0 until 32).map { j =>
    s"(CASE WHEN list_sum(list_transform(toks, t -> " +
      s"((CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) >> $j) & 1) * 2 - 1)) > 0 " +
      s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** Double-precision cosine over DOUBLE[] lists (mirrors
    * Similarity.cosine's left-to-right summation).
    */
  private[graft] def sqlCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Hyperplane-LSH candidate pairs + exact cosine over the q28/q97
    * corpus-with-planted-copies, as a CTE chain ending in `p(id1, id2,
    * sim)`. The SAME hyperplane literals as
    * `Similarity.nearDupPairsLsh` — the LSH banding is part of the
    * operator's portable definition.
    */
  /** Hyperplane bit + band-key SQL column lists for a (planes, bands)
    * LSH config — the SAME `hyperplaneWeights` literals as the Spark
    * tiers, so the banding is part of the operator's portable
    * definition. Returns (bitCols, bandCols) for `bit0..bitN` /
    * `b0..bB` projections.
    */
  private[graft] def sqlBandCols(numPlanes: Int, bands: Int): (String, String) = {
    val w = operators.Similarity.hyperplaneWeights(numPlanes, 64)
    val r = numPlanes / bands
    val bitCols = w.indices.map { i =>
      // Double.toString round-trips exactly; DuckDB parses E-notation
      val arr = w(i).mkString(", ")
      s"CASE WHEN list_dot_product(v, [$arr]) > 0 THEN 1 ELSE 0 END AS bit$i"
    }.mkString(",\n ")
    val bandCols = (0 until bands).map { b =>
      (0 until r).map(i => s"bit${b * r + i}*${1 << (r - 1 - i)}").mkString(" + ") +
        s" AS b$b"
    }.mkString(", ")
    (bitCols, bandCols)
  }

  private[graft] lazy val SqlLshPairs: String = {
    val bands = 4
    val (bitCols, bandCols) = sqlBandCols(24, bands)
    s"""c AS (
       | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       | UNION ALL SELECT vec_id + 1000000 AS vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |bits AS (SELECT vec_id, label, v,
       | $bitCols
       | FROM c),
       |band AS (SELECT vec_id, label, v, $bandCols FROM bits),
       |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       | FROM band a JOIN band b ON a.label = b.label AND a.vec_id < b.vec_id
       |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
       |p AS (SELECT cand.id1, cand.id2, ${sqlCosine("x.v", "y.v")} AS sim
       | FROM cand JOIN c x ON x.vec_id = cand.id1 JOIN c y ON y.vec_id = cand.id2)""".stripMargin
  }

  /** Unrolled per-language TextRank oracle (see q179 /
    * [[operators.TextRank]]): weighted PageRank rounds in INTEGER
    * micro-units — every rounding is (2a+b) DIV (2b), so no float
    * exists until the final display division (iterated 6-dp float
    * rounding diverges across engines at .5-ulp boundaries).
    */
  private[graft] def textRankSql(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""c$i AS (SELECT m.lang, m.v,
    CAST(sum((2 * p.pr * m.w + st.wu) // (2 * st.wu)) AS BIGINT) AS cs
  FROM m JOIN st ON st.lang = m.lang AND st.u = m.u
  JOIN pr${i - 1} p ON p.lang = m.lang AND p.u = m.u GROUP BY 1, 2),
pr$i AS (SELECT st.lang, st.u,
    (300000 + n) // (2 * n) + (34 * coalesce(cs, 0) + 20) // 40 AS pr
  FROM st JOIN ng USING (lang)
  LEFT JOIN c$i ON c$i.lang = st.lang AND c$i.v = st.u)"""
    }.mkString(",\n")
    s"""WITH tok AS (SELECT lang, $SqlToks AS toks FROM documents),
p AS (SELECT lang, unnest(list_transform(generate_series(1, len(toks) - 1),
    i -> [toks[i], toks[i + 1]])) AS pr
  FROM tok WHERE len(toks) >= 2),
pares AS (SELECT lang, pr[1] AS wa, pr[2] AS wb FROM p WHERE pr[1] <> pr[2]),
ed AS (SELECT lang, least(wa, wb) AS a, greatest(wa, wb) AS b,
    count(*) AS w
  FROM pares GROUP BY 1, 2, 3 HAVING count(*) >= 3),
m AS MATERIALIZED (SELECT lang, a AS u, b AS v, w FROM ed
  UNION ALL SELECT lang, b, a, w FROM ed),
st AS MATERIALIZED (SELECT lang, u, sum(w) AS wu FROM m GROUP BY 1, 2),
ng AS (SELECT lang, count(*) AS n FROM st GROUP BY lang),
pr0 AS (SELECT st.lang, st.u, (2000000 + n) // (2 * n) AS pr
  FROM st JOIN ng USING (lang)),
$iters,
rk AS (SELECT lang, u, pr, row_number() OVER
  (PARTITION BY lang ORDER BY pr DESC, u) AS rk FROM pr$rounds)
SELECT lang, u AS token,
  CAST(pr AS DOUBLE) / CAST(1000000 AS DOUBLE) AS rank_score,
  CAST(rk AS INT) AS rk
FROM rk WHERE rk <= 10 ORDER BY lang, rk"""
  }

  /** Unrolled bounded Bellman–Ford oracle (see q181 /
    * [[operators.Sssp]]): round i takes the per-node min over the
    * previous distances and all one-edge relaxations. DECIMAL(12,6)
    * distances end to end.
    */
  private[graft] def ssspSql(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""c$i AS (SELECT e.v AS node,
    min(CAST(d.dist + e.w AS DECIMAL(12,6))) AS dist
  FROM d${i - 1} d JOIN e ON e.u = d.node GROUP BY e.v),
d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM
  (SELECT node, dist FROM d${i - 1} UNION ALL SELECT node, dist FROM c$i)
  GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
    FROM lineitem),
sup AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= 2),
e AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v,
    CAST(round(CAST(1 AS DOUBLE) / CAST(n_both AS DOUBLE), 6)
      AS DECIMAL(12,6)) AS w
  FROM sup
  UNION ALL SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT),
    CAST(round(CAST(1 AS DOUBLE) / CAST(n_both AS DOUBLE), 6)
      AS DECIMAL(12,6))
  FROM sup),
d0 AS (SELECT DISTINCT u AS node, CAST(0 AS DECIMAL(12,6)) AS dist
  FROM e WHERE u <= 50),
$iters
SELECT node, CAST(dist AS DOUBLE) AS dist FROM d$rounds ORDER BY node"""
  }

  /** Unrolled dyadic-EWMA oracle (see q178 / [[operators.Ewma]]):
    * `window` lag terms with power-of-two weights, truncated weights
    * renormalized by the Σ actually present — exact integer num/den,
    * one rounded divide per row.
    */
  private[graft] def ewmaSql(w: Int): String = {
    val num = (0 until w).map { i =>
      val wt = 1L << (w - 1 - i)
      if (i == 0) s"cents * $wt"
      else s"coalesce(lag(cents, $i) OVER win * $wt, 0)"
    }.mkString(" + ")
    val den = (0 until w).map { i =>
      val wt = 1L << (w - 1 - i)
      if (i == 0) s"$wt"
      else s"CASE WHEN lag(cents, $i) OVER win IS NOT NULL THEN $wt ELSE 0 END"
    }.mkString(" + ")
    s"""WITH ev AS (SELECT user_id, event_id,
    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
   FROM events WHERE user_id < 100)
SELECT user_id, event_id, us, cents,
  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 6) AS ewma
FROM ev
WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)
ORDER BY user_id, us, event_id"""
  }

  /** Unrolled fixed-budget k-core peel oracle over the ≥2-support
    * co-purchase graph (see q148): round i keeps nodes with ≥ k
    * surviving neighbors and restricts the edge set to kept endpoints.
    */
  private[graft] def kcorePeelSql(rounds: Int, k: Int): String = {
    // each e_{i-1} is referenced twice (k_i and e_i) — MATERIALIZED
    // stops the reference tree from re-expanding to the base scan
    val peels = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
        HAVING count(*) >= $k),
e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
        JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)"""
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
sup AS (SELECT a.pk AS pa, b.pk AS pb
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk HAVING count(*) >= 2),
e0 AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v
       FROM sup
       UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM sup),
$peels
SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
FROM e$rounds GROUP BY u ORDER BY node"""
  }

  /** Unrolled k-truss peel oracle over the FULL co-purchase graph —
    * no ≥2-support slice; the `sup` CTE has no HAVING, matching q218's
    * Spark side over the full `edges` artifact (see q218 /
    * [[operators.KTruss]]): per round, triangles by
    * id-ordered triple enumeration (support is orientation-
    * independent, so the oracle may use the simple orientation),
    * per-edge support by a 3-way UNION ALL + count, edges below
    * k−2 dropped. MATERIALIZED throughout — every e_i is referenced
    * by three triangle legs AND the filter.
    */
  private[graft] def kTrussSql(rounds: Int, k: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""tr$i AS MATERIALIZED (SELECT a.lo AS x, a.hi AS y, b.hi AS z
  FROM e${i - 1} a JOIN e${i - 1} b ON b.lo = a.lo AND b.hi > a.hi
  JOIN e${i - 1} c ON c.lo = a.hi AND c.hi = b.hi),
s$i AS MATERIALIZED (SELECT lo, hi, count(*) AS s FROM (
  SELECT x AS lo, y AS hi FROM tr$i
  UNION ALL SELECT x AS lo, z AS hi FROM tr$i
  UNION ALL SELECT y AS lo, z AS hi FROM tr$i) GROUP BY 1, 2),
e$i AS MATERIALIZED (SELECT e.lo, e.hi FROM e${i - 1} e
  LEFT JOIN s$i ON s$i.lo = e.lo AND s$i.hi = e.hi
  WHERE coalesce(s$i.s, 0) >= ${k - 2})"""
    }.mkString(",\n")
    val f = rounds + 1
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
sup AS (SELECT a.pk AS pa, b.pk AS pb
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk),
e0 AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS lo, CAST(pb AS BIGINT) AS hi
       FROM sup),
$peels,
tr$f AS MATERIALIZED (SELECT a.lo AS x, a.hi AS y, b.hi AS z
  FROM e$rounds a JOIN e$rounds b ON b.lo = a.lo AND b.hi > a.hi
  JOIN e$rounds c ON c.lo = a.hi AND c.hi = b.hi),
s$f AS MATERIALIZED (SELECT lo, hi, count(*) AS s FROM (
  SELECT x AS lo, y AS hi FROM tr$f
  UNION ALL SELECT x AS lo, z AS hi FROM tr$f
  UNION ALL SELECT y AS lo, z AS hi FROM tr$f) GROUP BY 1, 2)
SELECT e.lo, e.hi, CAST(coalesce(s$f.s, 0) AS BIGINT) AS support
FROM e$rounds e LEFT JOIN s$f ON s$f.lo = e.lo AND s$f.hi = e.hi
ORDER BY e.lo, e.hi"""
  }

}
