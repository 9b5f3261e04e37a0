"""Reference-parity queries (SURVEY §2 / §3): grep, wordcount, the wine
filter-aggregate shape, condorcet, tail-n, and the MapleJuice API
driven end-to-end — each expressed over the driver's tables so the
DuckDB oracle can check them.

The condorcet queries derive real ballots from ``lineitem``: within an
order, suppliers are ranked by the line number of their first item —
every order is a ballot over suppliers. Same two-round semantics as
mp3/src/{maple,juice}/condorcet_*.go, on relational data.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators.condorcet import condorcet
from distributed_computing_projects_spark.operators.grep import grep, tail_n
from distributed_computing_projects_spark.operators.maplejuice import juice, maple
from distributed_computing_projects_spark.operators.wine import token_occurrence_agg
from distributed_computing_projects_spark.operators.wordcount import wordcount
from distributed_computing_projects_spark.queries import query
from distributed_computing_projects_spark.sources.csv import WINE_SCHEMA, read_csv
from distributed_computing_projects_spark.sources.registry import load_table
from distributed_computing_projects_spark.sources.text import read_lines

GREP_PATTERN = "key.*join"

# Checked-in fixtures (tools/gen_fixtures.py, FIXTURES.md §1/§4) for the
# reference-parity paths the driver tables can't exercise: multi-file
# log provenance and the 11-column wine CSV with malformed records.
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LOGS_DIR = os.path.join(_REPO, "fixtures", "logs")
WINE_CSV = os.path.join(_REPO, "fixtures", "wine", "wine_reviews.csv")
LOGS_PATTERN = "(Marked member failed|Finished Maple)"


@query(
    "grep",
    oracle=f"""
    SELECT doc_id, text
    FROM documents
    WHERE regexp_matches(text, '{GREP_PATTERN}')
    """,
    headline=True,
    doc="Distributed grep with provenance (mp3/src/logs.go:88-157).",
)
def q_grep(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return grep(docs, GREP_PATTERN, text_col="text", provenance_cols=["doc_id"])


@query(
    "grep_count",
    oracle=f"""
    SELECT count(*) AS n_matches
    FROM documents
    WHERE regexp_matches(text, '{GREP_PATTERN}')
    """,
    doc="Grep hit tally (mp0/src/service/client.go:70-76).",
)
def q_grep_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike(GREP_PATTERN))
        .agg(F.count("*").alias("n_matches"))
    )


@query(
    "wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    headline=True,
    doc="Wordcount app (mp3/src/maple/wordcount.go, juice/wordcount.go).",
)
def q_wordcount(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return wordcount(docs, "text")


@query(
    "wine_filter_agg",
    oracle="""
    SELECT source, count(*) AS occurrences
    FROM (
      SELECT source, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents WHERE lang = 'en'
    )
    WHERE tok = 'spark'
    GROUP BY source
    """,
    headline=True,
    doc="Wine filter-agg shape: dimension filter + PER-OCCURRENCE token "
        "count grouped (mp3/src/mj_wine/wine_maple.go:9-20).",
)
def q_wine_filter_agg(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return token_occurrence_agg(
        docs, F.col("lang") == "en", "text", "spark", "source"
    )


# --- Condorcet over lineitem-derived ballots ---------------------------------

_BALLOT_RANKS_SQL = """
  SELECT l_orderkey, l_suppkey, min(l_linenumber) AS rank
  FROM lineitem GROUP BY l_orderkey, l_suppkey
"""


@query(
    "condorcet_round1",
    oracle=f"""
    WITH ranks AS ({_BALLOT_RANKS_SQL})
    SELECT r1.l_suppkey AS a, r2.l_suppkey AS b,
           CAST(sum(CASE WHEN r1.rank < r2.rank THEN 1 ELSE 0 END) AS BIGINT) AS a_pref,
           CAST(sum(CASE WHEN r1.rank > r2.rank THEN 1 ELSE 0 END) AS BIGINT) AS b_pref,
           CASE WHEN sum(CASE WHEN r1.rank < r2.rank THEN 1 ELSE 0 END)
                     >= sum(CASE WHEN r1.rank > r2.rank THEN 1 ELSE 0 END)
                THEN r1.l_suppkey ELSE r2.l_suppkey END AS winner
    FROM ranks r1 JOIN ranks r2
      ON r1.l_orderkey = r2.l_orderkey AND r1.l_suppkey < r2.l_suppkey
    GROUP BY r1.l_suppkey, r2.l_suppkey
    """,
    headline=True,
    doc="Condorcet round 1: pairwise winners, ties to the smaller "
        "candidate (mp3/src/juice/condorcet_1.go:3-20).",
)
def q_condorcet_round1(spark, sf_dir):
    # Per-supplier min rank as a codegen'd hash aggregate FIRST, then
    # collect + sort per order, then INTRA-ROW pair expansion (same
    # shape as the ballot operator / reference maple, condorcet_1.go).
    # The former single-groupBy form deduped suppliers inside
    # interpreted higher-order functions (array_distinct + per-supplier
    # filter/array_min); hoisting that into the (orderkey, suppkey)
    # aggregate costs one extra narrow-ish shuffle but measured ~15%
    # faster with far lower variance at sf0.1/local[32]. Orders hold
    # <= 7 items, so the per-row O(k^2) expansion is constant-bounded.
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exchange for both aggregates: hash-partitioning by
    # l_orderkey alone satisfies the clustering of groupBy(l_orderkey,
    # l_suppkey) AND groupBy(l_orderkey), so the explicit repartition
    # replaces two narrower exchanges (per-supplier partial rows, then
    # per-order rows) with a single shuffle of the pruned scan —
    # half the shuffled bytes. Both exchanges are by-number
    # repartitions, which AQE never coalesces: the per-order and pair
    # aggregates are CPU-dense per key, and byte-driven coalescing ran
    # them in a task or two at bench scale (sf0.1/local[4]: 2.2 s
    # pinned, 5.6 s unpinned, 3.1 s with only this first one pinned).
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_sup = (
        li.select("l_orderkey", "l_suppkey", "l_linenumber")
        .repartition(n, "l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.min("l_linenumber").alias("r"))
    )
    # sort_array on struct<s, r> orders by s (distinct per order) —
    # the sorted distinct-supplier rank list the expansion needs
    per_order = per_sup.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(
            F.struct(F.col("l_suppkey").alias("s"), F.col("r")))).alias("R")
    )
    # all supplier pairs with a < b; ties in rank count toward neither
    pairs = """
    flatten(transform(R, (x, i) ->
      transform(slice(R, i + 2, size(R)), y ->
        struct(x.s AS a, y.s AS b,
               CASE WHEN x.r < y.r THEN 1 ELSE 0 END AS a_beats,
               CASE WHEN x.r > y.r THEN 1 ELSE 0 END AS b_beats))))
    """
    return (
        per_order.select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.a", "p.b", "p.a_beats", "p.b_beats")
        .repartition(n, "a", "b")
        .groupBy("a", "b")
        .agg(
            F.sum("a_beats").alias("a_pref"),
            F.sum("b_beats").alias("b_pref"),
        )
        .withColumn(
            "winner",
            F.when(F.col("a_pref") >= F.col("b_pref"), F.col("a")).otherwise(F.col("b")),
        )
    )


@query(
    "condorcet_wins",
    oracle=f"""
    WITH ranks AS ({_BALLOT_RANKS_SQL}),
    round1 AS (
      SELECT CASE WHEN sum(CASE WHEN r1.rank < r2.rank THEN 1 ELSE 0 END)
                       >= sum(CASE WHEN r1.rank > r2.rank THEN 1 ELSE 0 END)
                  THEN r1.l_suppkey ELSE r2.l_suppkey END AS winner
      FROM ranks r1 JOIN ranks r2
        ON r1.l_orderkey = r2.l_orderkey AND r1.l_suppkey < r2.l_suppkey
      GROUP BY r1.l_suppkey, r2.l_suppkey
    )
    SELECT s.s_suppkey AS candidate,
           count(round1.winner) AS wins
    FROM supplier s LEFT JOIN round1 ON round1.winner = s.s_suppkey
    GROUP BY s.s_suppkey
    """,
    doc="Condorcet round 2 tally incl. zero-win candidates "
        "(mp3/src/juice/condorcet_2.go:9-47).",
)
def q_condorcet_wins(spark, sf_dir):
    round1 = q_condorcet_round1(spark, sf_dir)
    suppliers = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("candidate")
    )
    tallies = round1.groupBy("winner").agg(F.count("*").alias("wins"))
    return (
        suppliers.join(
            F.broadcast(tallies), suppliers.candidate == tallies.winner, "left"
        )
        .groupBy("candidate")
        .agg(F.sum(F.coalesce("wins", F.lit(0))).alias("wins"))
    )


@query(
    "condorcet_winner",
    oracle=f"""
    WITH ranks AS ({_BALLOT_RANKS_SQL}),
    round1 AS (
      SELECT CASE WHEN sum(CASE WHEN r1.rank < r2.rank THEN 1 ELSE 0 END)
                       >= sum(CASE WHEN r1.rank > r2.rank THEN 1 ELSE 0 END)
                  THEN r1.l_suppkey ELSE r2.l_suppkey END AS winner
      FROM ranks r1 JOIN ranks r2
        ON r1.l_orderkey = r2.l_orderkey AND r1.l_suppkey < r2.l_suppkey
      GROUP BY r1.l_suppkey, r2.l_suppkey
    ),
    wins AS (
      SELECT s.s_suppkey AS candidate, count(round1.winner) AS wins
      FROM supplier s LEFT JOIN round1 ON round1.winner = s.s_suppkey
      GROUP BY s.s_suppkey
    ),
    stats AS (SELECT max(wins) AS mx, count(*) AS m FROM wins),
    champ AS (
      SELECT CAST(candidate AS VARCHAR) AS key,
             ' is the condorcet winner!' AS "value"
      FROM wins, stats WHERE wins = m - 1 ORDER BY candidate LIMIT 1
    ),
    tie AS (
      SELECT string_agg(CAST(candidate AS VARCHAR) || ',', '' ORDER BY candidate) AS key,
             ' have the highest condorcet counts, no winner.' AS "value"
      FROM wins, stats WHERE wins = mx
    )
    SELECT key, "value" FROM champ
    UNION ALL
    SELECT key, "value" FROM tie
    WHERE NOT EXISTS (SELECT 1 FROM champ)
    """,
    doc="Full two-round condorcet with the reference's EXACT output "
        "strings — '<i> is the condorcet winner!' or the "
        "trailing-comma argmax set '<i>,<j>, have the highest "
        "condorcet counts, no winner.' (mp3/src/juice/condorcet_2.go:"
        "23-45) — over lineitem-derived ballots with the supplier "
        "table as the candidate universe (zero-win candidates count).",
)
def q_condorcet_winner(spark, sf_dir):
    # Ballots carry RANKS, not just order: two suppliers in one order
    # routinely share a min line number, and the tie must award the
    # pair to NEITHER side (matching round1's raw-rank comparison and
    # its oracle). Flattening ties into list order handed every tied
    # pair to the smaller id — inflating small-id win counts; the
    # sf0.001 driver gate caught the divergence (sf0.01 happened to
    # agree on the final winner despite it).
    li = load_table(spark, sf_dir, "lineitem")
    # same single-exchange shape as q_condorcet_round1: partition by
    # l_orderkey once, both aggregates reuse it
    ranks = (
        li.select("l_orderkey", "l_suppkey", "l_linenumber")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.min("l_linenumber").alias("r"))
    )
    ballots = ranks.groupBy("l_orderkey").agg(
        F.expr(
            "array_sort(collect_list(struct(r AS r, l_suppkey AS s)))"
        ).alias("ballot")
    )
    candidates = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("candidate")
    )
    return condorcet(ballots, "ballot", candidates=candidates, ranked=True)


@query(
    "wine_csv_agg",
    oracle=f"""
    SELECT coalesce(region_2, '') AS region_2, count(*) AS occurrences
    FROM (
      SELECT region_2,
             unnest(string_split_regex(description, '\\s+')) AS tok
      -- all_varchar: DuckDB's typed scan recovers from a cast error by
      -- corrupting fields of the FOLLOWING record; reading varchar and
      -- applying the type policy explicitly sidesteps the quirk and
      -- states the reference's drop rule (bad int/double => skip row,
      -- mp3/src/mj_wine/wine_maple.go:10-13) in the oracle itself.
      -- ignore_errors still skips field-count-mismatched lines, which
      -- the per-line parser also drops.
      FROM read_csv('{WINE_CSV}', header=true, ignore_errors=true,
                    all_varchar=true,
                    columns={{'row_id': 'VARCHAR', 'country': 'VARCHAR',
                              'description': 'VARCHAR', 'designation': 'VARCHAR',
                              'points': 'VARCHAR', 'price': 'VARCHAR',
                              'province': 'VARCHAR', 'region_1': 'VARCHAR',
                              'region_2': 'VARCHAR', 'variety': 'VARCHAR',
                              'winery': 'VARCHAR'}})
      WHERE variety = 'Chardonnay'
        AND try_cast(row_id AS INTEGER) IS NOT NULL
        AND try_cast(points AS INTEGER) IS NOT NULL
        AND (price IS NULL OR try_cast(price AS DOUBLE) IS NOT NULL)
    )
    WHERE tok = 'succulent'
    GROUP BY 1
    """,
    doc="Wine reviews END-TO-END as the reference runs it: 11-column "
        "CSV through the per-line parser with malformed-record DROP "
        "(mp3/src/mj_wine/wine_maple.go:9-13) into the per-occurrence "
        "filter-aggregate (:15-20). Pins S3+F2+F3+F5 together in one "
        "driver row; the fixture interleaves field-count and bad-int "
        "records both parsers must reject identically.",
)
def q_wine_csv_agg(spark, sf_dir):
    wine = read_csv(spark, WINE_CSV, WINE_SCHEMA, header=True, malformed="drop")
    agg = token_occurrence_agg(
        wine, F.col("variety") == "Chardonnay", "description", "succulent",
        "region_2",
    )
    # '' and NULL region_2 normalize to '' on both sides (Spark's CSV
    # parse reads the empty field as NULL, DuckDB as '' — same group).
    return (
        agg.groupBy(F.coalesce("region_2", F.lit("")).alias("region_2"))
        .agg(F.sum("occurrences").alias("occurrences"))
    )


@query(
    "grep_logs",
    oracle=f"""
    WITH numbered AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS machine,
             CAST(row_number() OVER (
               PARTITION BY filename
               ORDER BY regexp_extract(line, '(\\d{{4}}/\\d{{2}}/\\d{{2}} \\d{{2}}:\\d{{2}}:\\d{{2}})', 1)
             ) - 1 AS BIGINT) AS line_no,
             line
      FROM read_csv('{LOGS_DIR}/*.log',
                    columns={{'line': 'VARCHAR'}},
                    delim='\t', quote='', header=false, filename=true)
    )
    SELECT machine, line_no, line
    FROM numbered
    WHERE regexp_matches(line, '{LOGS_PATTERN}')
    """,
    doc="Grep with FULL provenance over a multi-file logs fixture: "
        "(machine, line_no, line) exactly as the reference's MatchRes "
        "(mp3/src/logs.go:26-30; 0-based numbering :188-193). The "
        "engine reconstructs line_no from PHYSICAL order "
        "(sources/text.py); the oracle reconstructs it from the "
        "strictly-increasing per-machine timestamps in the line CONTENT "
        "— a genuine differential on the provenance path.",
)
def q_grep_logs(spark, sf_dir):
    logs = read_lines(spark, LOGS_DIR)
    return grep(logs, LOGS_PATTERN, text_col="line",
                provenance_cols=["machine", "line_no"])


@query(
    "grep_zst_logs",
    oracle="""
    SELECT 'event ' || event_id || ' user ' || user_id || ' type '
             || event_type AS value
    FROM events
    WHERE event_id % 3 = 0 AND event_type = 'error'
    """,
    doc="The reference's flagship grep (F1) over ZSTD-COMPRESSED log "
        "shards — how a fleet actually stores logs today (journald, "
        "docker, and k8s log rotation all zstd by default now): a "
        "deterministic events-derived log corpus is staged as "
        ".log.zst shards (one zstd frame each, with an INVALID-UTF-8 "
        "line that WOULD match the pattern injected per shard), read "
        "back through the compressed line walker "
        "(sources/compressed.py — the jsonl_zst_scan source), and "
        "grepped with the same rlike operator as the plain grep "
        "queries (operators/grep.py, mp3/src/logs.go:186-193). The "
        "oracle rebuilds the matching lines from the source table, "
        "so the decode, the UTF-8 drop policy (the injected line "
        "must NOT surface as a match), and the regex filter are all "
        "on the hash path.",
)
def q_grep_zst_logs(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _session_scratch,
    )
    from distributed_computing_projects_spark.sources.compressed import (
        compressed_lines,
    )
    from distributed_computing_projects_spark.sources.warc import (
        zstd_backend,
    )

    backend = zstd_backend()
    if backend is None:
        raise RuntimeError("no zstd backend (sources/warc.zstd_backend)")
    compress = backend[0]

    work = _session_scratch(spark, "grep_zst", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    stage = os.path.join(work, "stage")
    landing = os.path.join(work, "landing")
    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select(F.format_string(
            "event %d user %d type %s",
            "event_id", "user_id", "event_type").alias("value"))
        .repartition(4)
        .write.text(stage)
    )
    os.makedirs(landing)
    i = 0
    for name in sorted(os.listdir(stage)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(stage, name), "rb") as f:
            raw = f.read()
        # a pattern-matching line that is NOT valid UTF-8: the walker
        # must drop it or the grep result diverges from the oracle
        raw += b"event 0 user 0 type error \xff\xfe\n"
        with open(os.path.join(landing, f"m{i}.log.zst"), "wb") as f:
            f.write(compress(raw))
        i += 1
    shutil.rmtree(stage, ignore_errors=True)

    lines = compressed_lines(spark, landing)
    return grep(lines, "type error$", text_col="value",
                provenance_cols=[])


@query(
    "tail_n",
    oracle="""
    SELECT doc_id, text FROM (
      SELECT doc_id, text FROM documents ORDER BY doc_id DESC LIMIT 10
    ) ORDER BY doc_id
    """,
    doc="Tail-N of a dataset (`print logs -n`, mp3/src/logs.go:59-85).",
)
def q_tail_n(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tail_n(docs, 10, "doc_id")


@query(
    "maplejuice_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="Wordcount through the MapleJuice UDF API (native tier) — proves "
        "the maple/juice contract end-to-end (SURVEY §2.10).",
)
def q_maplejuice_wordcount(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("text")

    def wc_maple(line):
        # ASCII \s+ split: Python str.split() breaks on Unicode
        # whitespace (e.g. \xa0) where the oracle's RE2 and the
        # DataFrame twin's Java regex do not — the token streams must
        # match for the value-hash compare.
        import re

        for w in re.split(r"\s+", line, flags=re.ASCII):
            if w:
                yield w, "1"

    def wc_juice(key, values):
        total = 0
        for v in values:
            try:
                total += int(v)
            except ValueError:  # reference skips non-ints (wordcount.go:10-13)
                continue
        return str(total)

    kv = maple(docs, wc_maple)
    out = juice(kv, wc_juice)
    return out.select(
        F.col("key").alias("word"), F.col("value").cast("bigint").alias("n")
    )
