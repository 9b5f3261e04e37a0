"""Command-line surface mirroring the reference's interactive commands
(mp3/src/main.go:130-304): grep, the SDFS file commands, MapleJuice job
submission, plus `query` for the engine's registered query catalog.

    python -m distributed_computing_projects_spark grep ERROR /var/logs
    python -m distributed_computing_projects_spark put data.parquet mytable
    python -m distributed_computing_projects_spark ls mytable
    python -m distributed_computing_projects_spark maple mymod:tokenize docs/
    python -m distributed_computing_projects_spark query q1_pricing_summary
    python -m distributed_computing_projects_spark profile q1_pricing_summary

Differences from the reference CLI, on purpose:
- no membership commands (join/leave/kill, main.go:146-178) — cluster
  membership is Spark's problem here;
- `maple`/`juice` take a ``module:function`` Python callable (native
  tier) or ``--exec`` with a shell command (exec-compat tier,
  RDD.pipe) instead of a compiled Go binary;
- `query` is new: the reference has no query catalog;
- `profile` is new: where the reference reports one elapsed time per
  job (mp3/src/maplejuice.go:204-205), it prints one JSON record that
  splits a query's time by layer (``profile.run``).

Output goes line-by-line through ``toLocalIterator`` — the driver
never materializes a whole result (grep over 100 TB of logs streams).
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

from pyspark.sql import SparkSession


def _load_callable(spec: str):
    """Resolve ``module:function`` to a Python callable."""
    mod_name, _, fn_name = spec.partition(":")
    if not fn_name:
        raise SystemExit(f"expected module:function, got {spec!r}")
    mod = importlib.import_module(mod_name)
    try:
        return getattr(mod, fn_name)
    except AttributeError as exc:
        raise SystemExit(f"{mod_name} has no function {fn_name!r}") from exc


def _emit(df, sep: str = "\t") -> int:
    n = 0
    for row in df.toLocalIterator():
        print(sep.join("" if v is None else str(v) for v in row))
        n += 1
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="distributed_computing_projects_spark",
        description="PySpark analytics engine — reference-parity CLI",
    )
    p.add_argument("--root", default="./catalog",
                   help="catalog root directory (SDFS stand-in)")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] cores (default: all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("grep", help="regex over a logs path, with provenance")
    g.add_argument("pattern")
    g.add_argument("path")
    g.add_argument("--count", action="store_true",
                   help="print only the hit count (reference `grep -c`)")

    for name, args in [
        ("put", ["local_path", "name"]),
        ("get", ["name", "local_path"]),
        ("ls", ["name"]),
        ("store", []),
        ("delete", ["name"]),
    ]:
        sp = sub.add_parser(name, help=f"catalog {name} (SDFS {name})")
        for a in args:
            sp.add_argument(a)

    m = sub.add_parser("maple", help="map phase over a text path")
    m.add_argument("fn", help="module:function -> list[(key, value)] per line")
    m.add_argument("src_path")
    m.add_argument("--exec", dest="exec_cmd", default=None,
                   help="exec-compat tier: shell command over stdin lines")

    j = sub.add_parser("juice", help="reduce phase over maple output")
    j.add_argument("fn", help="module:function (key, values) -> value")
    j.add_argument("src_path", help="parquet of (key, value) maple output")
    j.add_argument("--num-juices", type=int, default=None)
    j.add_argument("--partition", choices=["hash", "range"], default="hash")

    q = sub.add_parser("query", help="run a registered catalog query")
    q.add_argument("name", nargs="?", default=None,
                   help="query name (omit to list all)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")

    pf = sub.add_parser("profile", help="warm, then profile a registered "
                        "query; prints its layer split as JSON")
    pf.add_argument("name", help="query name")
    pf.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    bw = sub.add_parser(
        "bandstore-write",
        help="materialize a corpus' MinHash band table (incremental-"
             "dedup store, hive-partitioned by key-hash prefix)",
    )
    bw.add_argument("corpus_path", help="parquet with (doc_id, text)")
    bw.add_argument("store_path")

    bc = sub.add_parser(
        "bandstore-compact",
        help="rewrite a band store distinct-on-(id, band) with an "
             "atomic swap — reclaims at-least-once append growth",
    )
    bc.add_argument("store_path")

    sr = sub.add_parser(
        "store-recover",
        help="repair a store whose compaction swap was interrupted: "
             "roll forward to a verified rewrite, roll back to the "
             "pre-compact copy, or clean leftovers (idempotent)",
    )
    sr.add_argument("store_path")

    v = sub.add_parser(
        "verify",
        help="differentially verify registered queries against their "
             "DuckDB oracles (the driver's CORRECTNESS gate, locally)",
    )
    v.add_argument("names", nargs="*",
                   help="query names (omit for the whole registry)")
    v.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    bp = sub.add_parser(
        "bandstore-probe",
        help="probe a batch against a band store; prints "
             "(new_id, corpus_id, est_jaccard) pairs",
    )
    bp.add_argument("store_path")
    bp.add_argument("batch_path", help="parquet with (doc_id, text)")
    bp.add_argument("--threshold", type=float, default=0.5)
    bp.add_argument("--append", action="store_true",
                    help="after probing, append the batch's bands to "
                         "the store (epochal ingest)")

    pw = sub.add_parser(
        "ivfpq-write",
        help="train PQ codebooks and materialize a codes-only IVF-PQ "
             "store (hive-partitioned by coarse cell, codebooks in "
             "the _params sidecar; raw vectors not stored)",
    )
    pw.add_argument("corpus_path", help="parquet with (vec_id, embedding)")
    pw.add_argument("store_path")

    pp = sub.add_parser(
        "ivfpq-probe",
        help="ADC top-k probe of an IVF-PQ store: directory-pruned to "
             "the query's coarse cells, reading only the stored codes",
    )
    pp.add_argument("store_path")
    pp.add_argument("query_vec",
                    help="comma-separated floats (the query embedding)")
    pp.add_argument("--k", type=int, default=10)
    pp.add_argument("--probes", type=int, default=2)
    pp.add_argument("--append",
                    help="parquet of (vec_id, embedding) to append as "
                         "an epoch after probing (encoded with the "
                         "store's own sidecar codebooks)")

    pc = sub.add_parser(
        "ivfpq-compact",
        help="rewrite an IVF-PQ store distinct-on-id with an atomic "
             "swap — reclaims at-least-once append growth",
    )
    pc.add_argument("store_path")

    bt = sub.add_parser(
        "bpe-train",
        help="train BPE merges over a corpus (one scan builds the "
             "word table, then vocab-sized rounds); prints the merge "
             "trace (rank, left, right, pair_count)",
    )
    bt.add_argument("corpus_path", help="parquet with a text column")
    bt.add_argument("--text-col", default="text")
    bt.add_argument("--n-merges", type=int, default=16)
    bt.add_argument("--out", help="also save the merge table as "
                                  "parquet at this path")

    be = sub.add_parser(
        "bpe-encode",
        help="apply a trained merge table to a corpus; prints per-doc "
             "(id, n_words, n_tokens)",
    )
    be.add_argument("corpus_path", help="parquet with (id, text) columns")
    be.add_argument("merges_path", help="parquet merge table from "
                                        "bpe-train --out")
    be.add_argument("--id-col", default="doc_id")
    be.add_argument("--text-col", default="text")

    ct = sub.add_parser(
        "classifier-train",
        help="train the quality classifier (weak-label self-"
             "distillation, integer-exact rate-difference weights); "
             "prints the top weights (token, cnt_pos, cnt_neg, weight)",
    )
    ct.add_argument("corpus_path", help="parquet with (id, text) columns")
    ct.add_argument("--id-col", default="doc_id")
    ct.add_argument("--text-col", default="text")
    ct.add_argument("--out", help="also save the FULL weight table as "
                                  "parquet at this path")

    cs = sub.add_parser(
        "classifier-score",
        help="score a corpus with a trained weight table "
             "(classifier-train --out); prints per-doc "
             "(id, score, pred)",
    )
    cs.add_argument("corpus_path", help="parquet with (id, text) columns")
    cs.add_argument("weights_path", help="parquet weight table from "
                                         "classifier-train --out")
    cs.add_argument("--id-col", default="doc_id")
    cs.add_argument("--text-col", default="text")
    cs.add_argument("--threshold", type=int, default=None,
                    help="decision cut (default: the calibrated "
                         "threshold from the model's _params sidecar, "
                         "else 0)")

    km = sub.add_parser(
        "kmv",
        help="KMV distinct-count sketch per group: prints "
             "(group, n_kept, kth_min_hash, est_distinct)",
    )
    km.add_argument("corpus_path", help="parquet with group/text columns")
    km.add_argument("--group-col", default="lang")
    km.add_argument("--text-col", default="text")

    zw = sub.add_parser(
        "zorder-write",
        help="rewrite a parquet table clustered by the Morton "
             "interleave of two non-negative integer columns "
             "(data-skipping layout: per-file min/max tighten on both)",
    )
    zw.add_argument("src_path")
    zw.add_argument("out_path")
    zw.add_argument("x_col", help="non-negative integer column")
    zw.add_argument("y_col", help="non-negative integer column")
    zw.add_argument("--bits", type=int, default=16)
    zw.add_argument("--files", type=int, default=32)

    ls_ = sub.add_parser(
        "lm-score",
        help="bigram-LM (stupid backoff) corpus scoring: trains count "
             "tables on the held-in split, prints per-doc "
             "(id, n_bigrams, n_hit, n_backoff, n_oov, avg_lp)",
    )
    ls_.add_argument("corpus_path", help="parquet with (id, text) columns")
    ls_.add_argument("--id-col", default="doc_id")
    ls_.add_argument("--text-col", default="text")

    sd = sub.add_parser(
        "semdedup",
        help="SemDeDup semantic dedup blocked by k-means cells: prints "
             "per-row (id, cell, is_kept); any explicit --cells uses "
             "SEEDED (untrained) centroids, with the two-level "
             "assignment index above 16 cells",
    )
    sd.add_argument("emb_path", help="parquet with (id, embedding) columns")
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--vec-col", default="embedding")
    sd.add_argument("--threshold", type=float, default=0.3)
    sd.add_argument("--cells", type=int, default=None,
                    help="quantizer size; omit for the TRAINED "
                         "oracle-parity 16 — any explicit value (16 "
                         "included) switches to md5-seeded untrained "
                         "centroids, so --cells 16 and the default "
                         "give different cell assignments")

    bb = sub.add_parser(
        "bloom-build",
        help="build a bloom membership store from a corpus's distinct "
             "word n-gram shingles (fixed 8 KiB filter; appends are "
             "retry-idempotent BIT_OR epochs)",
    )
    bb.add_argument("corpus_path", help="parquet with a text column")
    bb.add_argument("store_path")
    bb.add_argument("--text-col", default="text")
    bb.add_argument("--ngram", type=int, default=7)

    bq = sub.add_parser(
        "bloom-probe",
        help="probe a corpus against a bloom store: prints per-doc "
             "(id, n_grams, n_bloom_hits)",
    )
    bq.add_argument("corpus_path", help="parquet with id/text columns")
    bq.add_argument("store_path")
    bq.add_argument("--id-col", default="doc_id")
    bq.add_argument("--text-col", default="text")
    bq.add_argument("--ngram", type=int, default=7)

    pr = sub.add_parser(
        "pagerank",
        help="integer fixed-point PageRank over the click graph of an "
             "events table: prints (node, degree, rank)",
    )
    pr.add_argument("events_path", help="parquet events table")
    pr.add_argument("--iters", type=int, default=3)

    gq = sub.add_parser(
        "gopher",
        help="Gopher quality rules (Rae et al. 2021) over a corpus: "
             "prints per-doc features + the keep flag",
    )
    gq.add_argument("corpus_path", help="parquet with (id, text) columns")
    gq.add_argument("--id-col", default="doc_id")
    gq.add_argument("--text-col", default="text")
    gq.add_argument("--dropped-only", action="store_true",
                    help="print only docs the rules reject")

    ld = sub.add_parser(
        "line-dedup",
        help="C4-style global line dedup: prints per-doc "
             "(id, n_lines, n_kept, kept_text)",
    )
    ld.add_argument("corpus_path", help="parquet with (id, text) columns")
    ld.add_argument("--id-col", default="doc_id")
    ld.add_argument("--text-col", default="text")
    ld.add_argument("--min-chars", type=int,
                    default=None,
                    help="lines shorter than this never dedup "
                         "(default: operator default)")

    px = sub.add_parser(
        "warc-extract",
        help="extract HTTP responses from WARC payloads (plain or "
             ".warc.gz member-per-record gzip): reads a parquet of "
             "(id, payload binary), prints per-response "
             "(id, url, status, n_body_bytes, prefix_sum)",
    )
    px.add_argument("payloads_path",
                    help="parquet with (id bigint, payload binary)")

    pdx = sub.add_parser(
        "pdf-extract",
        help="extract the text layer from PDF payloads: reads a "
             "parquet of (id, payload binary), prints per-payload "
             "(id, n_streams, n_flate, n_text_ops, n_chars, "
             "prefix_sum); --object-model uses the PDF 1.5+ xref "
             "walk (xref/object streams, ToUnicode CMaps, hex "
             "strings) and prints the object-model fact set",
    )
    pdx.add_argument("payloads_path",
                     help="parquet with (id bigint, payload binary)")
    pdx.add_argument("--object-model", action="store_true")

    wet = sub.add_parser(
        "wet-extract",
        help="extract conversion records from WET payloads "
             "(.warc.wet / .warc.wet.gz): reads a parquet of "
             "(id, payload binary), prints per-record "
             "(id, url, n_text_bytes, prefix_sum)",
    )
    wet.add_argument("payloads_path",
                     help="parquet with (id bigint, payload binary)")

    ws = sub.add_parser(
        "wikitext-strip",
        help="strip MediaWiki markup to plain text over a parquet "
             "corpus column (codegen regexp chain, "
             "functions/wikitext.py)",
    )
    ws.add_argument("corpus_path", help="parquet corpus")
    ws.add_argument("--id-col", default="doc_id")
    ws.add_argument("--text-col", default="text")

    wx = sub.add_parser(
        "wiki-extract",
        help="extract pages from multistream-bz2 MediaWiki dump "
             "payloads: prints per-page (id, page_id, title, ns, "
             "n_text_bytes, prefix_sum); --articles-only keeps ns=0",
    )
    wx.add_argument("payloads_path",
                    help="parquet with (id bigint, payload binary)")
    wx.add_argument("--articles-only", action="store_true")

    js = sub.add_parser(
        "jsonl-scan",
        help="schema'd JSONL scan with malformed-record policy; "
             "suffix-routed: .zst/.xz decode through the engine's "
             "bounded line walker (sources/compressed.py — Hadoop "
             "has no codec for them), everything else through the "
             "built-in text scan",
    )
    js.add_argument("path", help="file/dir/glob of .jsonl[.gz|.zst|.xz]")
    js.add_argument("schema", help="Spark DDL, e.g. 'a bigint, b string'")
    js.add_argument("--malformed", choices=["drop", "fail", "keep"],
                    default="drop")

    wd = sub.add_parser(
        "wds-scan",
        help="WebDataset tar-shard scan (sources/webdataset.py): "
             "prints per-sample (key, part names, total bytes)",
    )
    wd.add_argument("path", help="file/dir/glob of .tar shards")

    zp = sub.add_parser(
        "zip-scan",
        help="ZIP archive scan (sources/ziparchive.py, torn-tail "
             "local-header fallback): prints per-member "
             "(name, n_bytes)",
    )
    zp.add_argument("path", help="file/dir/glob of .zip archives")

    dx = sub.add_parser(
        "docx-text",
        help="DOCX text extraction (sources/docx.py, ECMA-376 "
             "WordprocessingML over the zip walk): prints "
             "(path, extracted)",
    )
    dx.add_argument("path", help="file/dir/glob of .docx files")

    ot = sub.add_parser(
        "odt-text",
        help="ODT text extraction (sources/odt.py, OpenDocument "
             "content.xml with encoded-whitespace expansion): prints "
             "(path, extracted)",
    )
    ot.add_argument("path", help="file/dir/glob of .odt files")

    eb = sub.add_parser(
        "epub-text",
        help="EPUB text extraction (sources/epub.py, OCF container "
             "-> OPF spine -> XHTML chapters): prints "
             "(path, extracted)",
    )
    eb.add_argument("path", help="file/dir/glob of .epub files")

    rt = sub.add_parser(
        "rtf-text",
        help="RTF text extraction (sources/rtf.py, RTF 1.9.1 "
             "control-word walk: destinations, \\uN/\\ucN, "
             "code-page escapes): prints (path, extracted)",
    )
    rt.add_argument("path", help="file/dir/glob of .rtf files")

    pt = sub.add_parser(
        "pptx-text",
        help="PPTX text extraction (sources/pptx.py, ECMA-376 "
             "PresentationML: presentation.xml -> rels -> ordered "
             "slide parts; notes never leak): prints "
             "(path, extracted)",
    )
    pt.add_argument("path", help="file/dir/glob of .pptx files")

    wl = sub.add_parser(
        "wat-links",
        help="WAT metadata-record link extraction (sources/wat.py): "
             "prints (src, dst, path) outlink edges",
    )
    wl.add_argument("path", help="file/dir/glob of .wat/.wat.gz files")

    av = sub.add_parser(
        "avro-scan",
        help="Avro Object Container File scan (pure-stdlib spec "
             "reader, sources/avro.py): prints the records; the "
             "writer schema is inferred from the first file unless "
             "--schema-json is given",
    )
    av.add_argument("path", help="file/dir/glob of .avro OCF files")
    av.add_argument("--schema-json", default=None,
                    help="writer schema as JSON (skips inference)")

    mb = sub.add_parser(
        "mbox-extract",
        help="MBOX email extraction (sources/mbox.py: framing + "
             "unstuffing, MIME walk, CTE/RFC2047 decode): prints "
             "(id, subject, sender, extracted)",
    )
    mb.add_argument("path", help="file/dir/glob of .mbox files")

    xl = sub.add_parser(
        "xlsx-scan",
        help="XLSX sheet scan (sources/xlsx.py: shared/inline "
             "strings, A1 sparse placement, serial dates): prints "
             "the rows under --ddl column types",
    )
    xl.add_argument("path", help="file/dir/glob of .xlsx workbooks")
    xl.add_argument("--ddl", required=True,
                    help="sheet columns IN ORDER as Spark DDL")
    xl.add_argument("--keep-header", action="store_true",
                    help="do not skip the first spreadsheet row")

    bsc = sub.add_parser(
        "bson-scan",
        help="BSON dump scan (sources/bsonfile.py: mongodump layout, "
             "size-framed document walk, pure stdlib): prints the "
             "rows under --ddl column types",
    )
    bsc.add_argument("path", help="file/dir/glob of .bson dumps")
    bsc.add_argument("--ddl", required=True,
                     help="fields as Spark DDL (resolve by name; "
                          "mis-typed cells null)")

    tfr = sub.add_parser(
        "tfrecord-scan",
        help="TFRecord scan (sources/tfrecord.py: masked-CRC-32C "
             "framing + tf.train.Example wire decode, pure stdlib): "
             "prints the rows under --ddl column types",
    )
    tfr.add_argument("path", help="file/dir/glob of .tfrecord files")
    tfr.add_argument("--ddl", required=True,
                     help="feature columns as Spark DDL (features "
                          "resolve by name; scalars demand "
                          "single-element lists, array<...> takes "
                          "the list)")

    sq = sub.add_parser(
        "sqlite-scan",
        help="SQLite database scan (sources/sqlitefile.py: b-tree "
             "page walk of the public file format, pure stdlib): "
             "prints one table's rows under --ddl column types",
    )
    sq.add_argument("path", help="file/dir/glob of .sqlite/.db files")
    sq.add_argument("--table", required=True,
                    help="table name (rowid tables only; WITHOUT "
                         "ROWID tables drop)")
    sq.add_argument("--ddl", required=True,
                    help="columns as Spark DDL (resolve by name "
                         "against CREATE TABLE; mis-typed cells "
                         "null)")

    dl = sub.add_parser(
        "delta-scan",
        help="Delta Lake table read (sources/deltalake.py: public "
             "transaction-log protocol — checkpoint + JSON replay, "
             "tombstones, partition values from the log): prints "
             "the table's committed rows",
    )
    dl.add_argument("path", help="Delta table root (contains "
                                 "_delta_log/)")
    dl.add_argument("--version", type=int, default=None,
                    help="time-travel to this commit version")
    dl.add_argument("--partition", action="append", default=None,
                    metavar="COL=VALUE",
                    help="equality partition prune (repeatable); "
                         "files are skipped before any I/O")

    dm = sub.add_parser(
        "lake-maint",
        help="Lakehouse maintenance/DML ops (round 16): "
             "delta delete/optimize/vacuum/restore/changes, "
             "iceberg delete/expire, hudi clean, hudi-mor compact",
    )
    dm.add_argument("op", choices=[
        "delta-delete", "delta-optimize", "delta-vacuum",
        "delta-restore", "delta-changes", "iceberg-delete",
        "iceberg-expire", "hudi-clean", "hudi-mor-compact"])
    dm.add_argument("path", help="table root")
    dm.add_argument("--where", default=None,
                    help="Spark SQL predicate (delta-delete / "
                         "iceberg-delete)")
    dm.add_argument("--version", type=int, default=None,
                    help="target version (delta-restore) or range "
                         "start (delta-changes)")
    dm.add_argument("--keep", type=int, default=1,
                    help="snapshots to retain (iceberg-expire)")
    dm.add_argument("--ddl", default=None,
                    help="columns as Spark DDL (hudi-mor-compact)")
    dm.add_argument("--instant", default=None,
                    help="new instant id (hudi-mor-compact)")
    dm.add_argument("--dry-run", action="store_true",
                    help="plan only (delta-vacuum / iceberg-expire "
                         "/ hudi-clean)")

    ib = sub.add_parser(
        "iceberg-scan",
        help="Apache Iceberg table read (sources/iceberg.py: "
             "metadata -> manifest-list -> manifest chain through "
             "the engine's own Avro decoder, native parquet scan): "
             "prints the snapshot's rows",
    )
    ib.add_argument("path", help="Iceberg table root (contains "
                                 "metadata/)")
    ib.add_argument("--snapshot-id", type=int, default=None,
                    help="time-travel to this snapshot")
    ib.add_argument("--partition", action="append", default=None,
                    metavar="COL=VALUE",
                    help="equality prune at the manifest layer "
                         "(identity transforms only; repeatable)")

    hu = sub.add_parser(
        "hudi-scan",
        help="Apache Hudi CoW table read (sources/hudi.py: timeline "
             "replay, latest file slice per group, replacecommits): "
             "prints the snapshot's rows under --ddl column types",
    )
    hu.add_argument("path", help="Hudi table root (contains "
                                 ".hoodie/)")
    hu.add_argument("--ddl", required=True,
                    help="columns to read as Spark DDL (_hoodie_* "
                         "meta columns prune away unless asked for)")
    hu.add_argument("--as-of", default=None,
                    help="time-travel to the latest instant at or "
                         "before this timestamp string")

    hm = sub.add_parser(
        "hudi-mor-scan",
        help="Apache Hudi MERGE_ON_READ snapshot read "
             "(sources/hudimor.py: base files + log-block merge, "
             "last-wins per record key, _hoodie_is_deleted "
             "sentinel): prints the merged rows under --ddl",
    )
    hm.add_argument("path", help="Hudi MOR table root (contains "
                                 ".hoodie/)")
    hm.add_argument("--ddl", required=True,
                    help="columns to read as Spark DDL (must "
                         "include the record key fields)")
    hm.add_argument("--as-of", default=None,
                    help="time-travel to the latest instant at or "
                         "before this timestamp string")

    mp = sub.add_parser(
        "msgpack-scan",
        help="MessagePack dump scan (sources/msgpackfile.py: "
             "type-derived value walk, pure stdlib): prints the "
             "str-keyed map rows under --ddl column types",
    )
    mp.add_argument("path", help="file/dir/glob of .msgpack dumps")
    mp.add_argument("--ddl", required=True,
                    help="fields as Spark DDL (resolve by name; "
                         "mis-typed cells null)")

    cb = sub.add_parser(
        "cbor-scan",
        help="CBOR sequence scan (sources/cborfile.py: RFC 8949 "
             "item walk incl. indefinite-length forms, pure "
             "stdlib): prints the text-keyed map rows under --ddl "
             "column types",
    )
    cb.add_argument("path", help="file/dir/glob of .cbor sequences")
    cb.add_argument("--ddl", required=True,
                    help="fields as Spark DDL (resolve by name; "
                         "mis-typed cells null)")

    pb = sub.add_parser(
        "pb-scan",
        help="Varint-delimited protobuf stream scan "
             "(sources/pbstream.py: writeDelimitedTo framing, "
             "schema-free wire walk, pure stdlib): prints the rows "
             "under --ddl with --field name=number mappings",
    )
    pb.add_argument("path", help="file/dir/glob of delimited "
                                 "protobuf streams")
    pb.add_argument("--ddl", required=True,
                    help="columns as Spark DDL (types pick the wire "
                         "interpretation)")
    pb.add_argument("--field", action="append", required=True,
                    metavar="COL=NUMBER[:sint]",
                    help="column -> protobuf field number "
                         "(repeatable; ':sint' for zigzag ints)")

    ai = sub.add_parser(
        "arrow-scan",
        help="Arrow IPC / Feather scan (sources/arrowipc.py, both "
             "framings, torn-footer fallback): prints the rows; the "
             "schema is inferred from the first file unless --ddl "
             "is given",
    )
    ai.add_argument("path", help="file/dir/glob of .arrow/.feather files")
    ai.add_argument("--ddl", default=None,
                    help="expected columns as Spark DDL (skips inference)")

    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "query" and args.name is None:
        # listing needs no session
        from distributed_computing_projects_spark.queries import load_registry

        for name, spec in load_registry().items():
            print(f"{name}\t{'oracle' if spec.oracle else 'rows-only'}")
        return 0

    own_session = spark is None
    if own_session:
        from distributed_computing_projects_spark.session import get_spark

        spark = get_spark(app_name="cli", cpus=args.cpus)
    try:
        if args.cmd == "grep":
            from distributed_computing_projects_spark.operators.grep import (
                grep,
                grep_count,
            )
            from distributed_computing_projects_spark.sources.text import (
                read_lines,
            )

            lines = read_lines(spark, args.path)
            if args.count:
                print(grep_count(lines, args.pattern, text_col="line"))
            else:
                _emit(grep(lines, args.pattern, text_col="line",
                           provenance_cols=["machine", "line_no"]), sep=":")
        elif args.cmd in ("put", "get", "ls", "store", "delete"):
            from distributed_computing_projects_spark.catalog import Catalog

            cat = Catalog(spark, args.root)
            if args.cmd == "put":
                cat.put(args.name, spark.read.parquet(args.local_path))
            elif args.cmd == "get":
                # Re-encodes through a DataFrame write rather than
                # byte-copying the stored files: row-identical output
                # (tests/test_cli.py asserts it), but file layout,
                # compression, and footer metadata may differ from the
                # original upload — cheap at CLI scale; a bulk export
                # would copy files through the FileSystem API instead.
                # A dataset no bigger than Spark's file open cost reads
                # as one partition, so it exports as one part file.
                cat.get(args.name).write.mode("error").parquet(args.local_path)
            elif args.cmd == "ls":
                for f in cat.ls(args.name):
                    print(f"{f['file']}\t{f['bytes']}")
            elif args.cmd == "store":
                for name in cat.store():
                    print(name)
            else:
                cat.delete(args.name)
        elif args.cmd == "maple":
            from distributed_computing_projects_spark.operators.maplejuice import (
                maple,
                maple_exec,
            )

            lines = spark.read.text(args.src_path).withColumnRenamed(
                "value", "line"
            )
            if args.exec_cmd:
                out = maple_exec(lines, args.exec_cmd, line_col="line")
            else:
                out = maple(lines, _load_callable(args.fn), line_col="line")
            _emit(out)
        elif args.cmd == "juice":
            from distributed_computing_projects_spark.operators.maplejuice import (
                juice,
            )

            kv = spark.read.parquet(args.src_path)
            _emit(juice(kv, _load_callable(args.fn),
                        num_juices=args.num_juices,
                        partition=args.partition))
        elif args.cmd in ("query", "profile"):
            from distributed_computing_projects_spark.queries import (
                load_registry,
            )

            reg = load_registry()
            if args.name not in reg:
                raise SystemExit(
                    f"unknown query {args.name!r}; run `query` to list"
                )
            if args.cmd == "profile":
                import json

                from distributed_computing_projects_spark import profile

                profile.run(spark, reg[args.name].fn, args.sf_dir)  # warm
                print(json.dumps(profile.run(spark, reg[args.name].fn,
                                             args.sf_dir), indent=1))
                return 0
            df = reg[args.name].fn(spark, args.sf_dir)
            if args.explain:
                from distributed_computing_projects_spark.plans.inspect import (
                    physical_plan,
                )

                print(physical_plan(df))
            else:
                _emit(df)
        elif args.cmd == "bandstore-compact":
            from distributed_computing_projects_spark.operators import (
                bandstore,
            )

            before, after = bandstore.compact_store(spark, args.store_path)
            print(f"{before}\t{after}")
        elif args.cmd == "store-recover":
            from distributed_computing_projects_spark.operators import (
                storemeta,
            )

            print(storemeta.recover_swap(args.store_path))
        elif args.cmd == "verify":
            from distributed_computing_projects_spark import verify

            failed = verify.run(spark, args.sf_dir,
                                set(args.names) or None)
            return 1 if failed else 0
        elif args.cmd == "bandstore-write":
            from distributed_computing_projects_spark.operators import (
                bandstore,
            )

            corpus = spark.read.parquet(args.corpus_path)
            bandstore.write_bands(corpus, args.store_path, "doc_id", "text")
        elif args.cmd == "bandstore-probe":
            from distributed_computing_projects_spark.operators import (
                bandstore,
            )

            batch = spark.read.parquet(args.batch_path)
            _emit(bandstore.incremental_pairs_against_store(
                spark, args.store_path, batch, "doc_id", "text",
                threshold=args.threshold,
            ))
            if args.append:
                bandstore.append_bands(batch, args.store_path,
                                       "doc_id", "text")
        elif args.cmd == "ivfpq-write":
            from distributed_computing_projects_spark.operators import (
                pq,
            )

            corpus = spark.read.parquet(args.corpus_path)
            pq.write_ivfpq(spark, corpus, args.store_path,
                           "vec_id", "embedding")
        elif args.cmd == "ivfpq-probe":
            from distributed_computing_projects_spark.operators import (
                pq,
            )

            qvec = [float(x) for x in args.query_vec.split(",")]
            _emit(pq.ivfpq_topk_store(
                spark, args.store_path, qvec, args.k,
                probes=args.probes,
            ))
            if args.append:
                pq.append_ivfpq(spark.read.parquet(args.append),
                                args.store_path, "vec_id", "embedding")
        elif args.cmd == "ivfpq-compact":
            from distributed_computing_projects_spark.operators import (
                pq,
            )

            before, after = pq.compact_ivfpq_store(spark, args.store_path)
            print(f"{before}\t{after}")
        elif args.cmd == "bpe-train":
            from distributed_computing_projects_spark.operators import bpe

            corpus = spark.read.parquet(args.corpus_path)
            merges = bpe.train_bpe(spark, corpus, args.text_col,
                                   args.n_merges).orderBy("rank")
            if args.out:
                merges.write.mode("error").parquet(args.out)
            _emit(merges)
        elif args.cmd == "bpe-encode":
            from distributed_computing_projects_spark.operators import bpe

            corpus = spark.read.parquet(args.corpus_path)
            table = [
                (r["left"], r["right"])
                for r in spark.read.parquet(args.merges_path)
                .orderBy("rank").collect()
            ]
            _emit(bpe.encode_tokens(corpus, args.id_col, args.text_col,
                                    table).orderBy("id"))
        elif args.cmd == "classifier-train":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.operators import (
                quality_classifier as qc,
            )

            corpus = spark.read.parquet(args.corpus_path)
            labeled = qc.labeled_docs(corpus, args.id_col, args.text_col)
            if args.out:
                # one training pass: save_model materializes the
                # weights (+ calibrated threshold sidecar); the top-50
                # print re-reads the written parquet instead of
                # re-running the corpus-wide explode
                t = qc.save_model(labeled, args.out)
                print(f"threshold\t{t}")
                saved = spark.read.parquet(args.out)
                _emit(saved.orderBy(F.col("weight").desc(),
                                    F.col("token").asc())
                      .limit(qc.TOP_WEIGHTS))
            else:
                _emit(qc.top_weights(labeled))
        elif args.cmd == "classifier-score":
            from distributed_computing_projects_spark.operators import (
                quality_classifier as qc,
            )

            corpus = spark.read.parquet(args.corpus_path)
            weights = spark.read.parquet(args.weights_path)
            t = (args.threshold if args.threshold is not None
                 else qc.load_threshold(args.weights_path))
            _emit(qc.score_against(corpus, weights, args.id_col,
                                   args.text_col,
                                   threshold=t).orderBy("id"))
        elif args.cmd == "kmv":
            from distributed_computing_projects_spark.operators import (
                sketches,
            )

            corpus = spark.read.parquet(args.corpus_path)
            pairs = sketches.token_hashes(corpus, args.group_col,
                                          args.text_col)
            _emit(sketches.kmv_sketch(pairs).orderBy("grp"))
        elif args.cmd == "zorder-write":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.operators import (
                zorder,
            )

            src = spark.read.parquet(args.src_path)
            keyed = src.withColumn("zkey", F.expr(zorder.interleave2(
                args.x_col, args.y_col, args.bits, "spark")))
            zorder.write_zordered(keyed, "zkey", args.out_path,
                                  args.files)
            print(spark.read.parquet(args.out_path).count())
        elif args.cmd == "lm-score":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.operators import (
                ngram_lm,
            )

            docs = spark.read.parquet(args.corpus_path)
            scored = ngram_lm.score_docs(
                docs, args.id_col, args.text_col
            ).select(
                "id", "n_bigrams", "n_hit", "n_backoff", "n_oov",
                F.round("avg_lp", 6).alias("avg_lp"),
            ).orderBy("id")
            _emit(scored)
        elif args.cmd == "semdedup":
            from distributed_computing_projects_spark.operators import (
                dedup,
                ivf_train,
            )

            emb = spark.read.parquet(args.emb_path)
            if args.cells is None:
                out = dedup.semantic_dedup(
                    spark, emb, args.id_col, args.vec_col,
                    threshold=args.threshold,
                )
            else:
                out = dedup.semantic_dedup(
                    spark, emb, args.id_col, args.vec_col,
                    threshold=args.threshold,
                    centroids=ivf_train.seed_centroids(args.cells),
                    # two-level coarse index past the codegen-friendly
                    # size: the production sized-k path (exact N*k
                    # "join" stays available programmatically)
                    assign="twolevel" if args.cells > 16 else "expr",
                )
            _emit(out.orderBy("id"))
        elif args.cmd == "bloom-build":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.functions import (
                text as T,
            )
            from distributed_computing_projects_spark.operators import (
                sketches,
            )

            corpus = spark.read.parquet(args.corpus_path)
            sh = T.shingles(args.text_col, args.ngram, "spark")
            grams = corpus.select(
                F.explode(F.expr(sh)).alias("gram")
            ).distinct()
            sketches.append_batch_bloom(grams, args.store_path)
            print(spark.read.parquet(args.store_path).count())
        elif args.cmd == "bloom-probe":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.functions import (
                text as T,
            )
            from distributed_computing_projects_spark.operators import (
                sketches,
            )

            corpus = spark.read.parquet(args.corpus_path)
            sh = T.shingles(args.text_col, args.ngram, "spark")
            probe = corpus.select(
                F.col(args.id_col).alias("id"),
                F.explode(F.expr(f"array_distinct({sh})")).alias("gram"),
            )
            bits = sketches.merged_store_bloom(spark, args.store_path)
            _emit(sketches.bloom_hits(probe, bits).orderBy("id"))
        elif args.cmd == "pagerank":
            from distributed_computing_projects_spark.operators import (
                graphrank,
            )

            ev = spark.read.parquet(args.events_path)
            _emit(graphrank.pagerank_fixedpoint(
                graphrank.click_graph(ev), n_iters=args.iters
            ).orderBy("node"))
        elif args.cmd == "gopher":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.operators import (
                textstats,
            )

            docs = spark.read.parquet(args.corpus_path)
            out = textstats.gopher_flags(docs, args.id_col, args.text_col)
            if args.dropped_only:
                out = out.filter(~F.col("gopher_keep"))
            # round the float features for stable terminal output
            out = out.select(
                "id", "n_words",
                F.round("mean_word_len", 4).alias("mean_word_len"),
                F.round("symbol_ratio", 4).alias("symbol_ratio"),
                F.round("frac_alpha_words", 4).alias("frac_alpha_words"),
                "n_stop_hits", "gopher_keep",
            )
            _emit(out.orderBy("id"))
        elif args.cmd == "line-dedup":
            from distributed_computing_projects_spark.operators import (
                dedup,
            )

            docs = spark.read.parquet(args.corpus_path)
            kw = ({}
                  if args.min_chars is None
                  else {"min_chars": args.min_chars})
            _emit(dedup.line_dedup(
                docs, args.id_col, args.text_col, **kw).orderBy("id"))
        elif args.cmd == "warc-extract":
            from distributed_computing_projects_spark.sources import warc

            payloads = spark.read.parquet(args.payloads_path)
            _emit(warc.extract_responses(payloads).orderBy("id", "url"))
        elif args.cmd == "pdf-extract":
            payloads = spark.read.parquet(args.payloads_path)
            if args.object_model:
                from distributed_computing_projects_spark.sources import (
                    pdfobj,
                )

                _emit(pdfobj.extract_pdf_facts(payloads).orderBy("id"))
            else:
                from distributed_computing_projects_spark.sources import pdf

                _emit(pdf.extract_pdf_text(payloads).orderBy("id"))
        elif args.cmd == "wet-extract":
            from distributed_computing_projects_spark.sources import warc

            payloads = spark.read.parquet(args.payloads_path)
            _emit(warc.extract_conversions(payloads).orderBy("id", "url"))
        elif args.cmd == "wikitext-strip":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.functions import (
                wikitext,
            )

            docs = spark.read.parquet(args.corpus_path)
            _emit(docs.select(
                F.col(args.id_col).alias("id"),
                F.expr(wikitext.strip_wikitext(args.text_col, "spark"))
                .alias("text"),
            ).orderBy("id"))
        elif args.cmd == "wiki-extract":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.sources import (
                wikidump,
            )

            payloads = spark.read.parquet(args.payloads_path)
            out = wikidump.extract_pages(payloads)
            if args.articles_only:
                out = out.filter(F.col("ns") == 0)
            _emit(out.orderBy("id", "page_id"))
        elif args.cmd == "jsonl-scan":
            from pyspark.sql.types import _parse_datatype_string

            from distributed_computing_projects_spark.sources.json import (
                read_jsonl_auto,
            )

            schema = _parse_datatype_string(args.schema)
            _emit(read_jsonl_auto(spark, args.path, schema,
                                  malformed=args.malformed))
        elif args.cmd == "wds-scan":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.sources import (
                webdataset,
            )

            wds = webdataset.read_webdataset(spark, args.path)
            _emit(wds.select(
                "key",
                F.concat_ws(",", F.sort_array(F.map_keys("parts")))
                .alias("part_names"),
                F.aggregate(F.map_values("parts"), F.lit(0).cast("bigint"),
                            lambda a, v: a + F.octet_length(v))
                .alias("n_bytes"),
            ).orderBy("key"))
        elif args.cmd == "zip-scan":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.sources import (
                ziparchive,
            )

            zm = ziparchive.read_zip(spark, args.path)
            _emit(zm.select(
                "name", F.octet_length("content").alias("n_bytes")
            ).orderBy("name"))
        elif args.cmd in ("docx-text", "epub-text", "odt-text",
                          "pptx-text", "rtf-text"):
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.sources import (
                docx,
                epub,
                odt,
                pptx,
                rtf,
            )

            reader = {"docx-text": docx.read_docx,
                      "epub-text": epub.read_epub,
                      "odt-text": odt.read_odt,
                      "pptx-text": pptx.read_pptx,
                      "rtf-text": rtf.read_rtf}[args.cmd]
            # paragraph newlines escape to literal \n so the output
            # stays one row per line (the tab-KV sink discipline)
            _emit(reader(spark, args.path).select(
                "path",
                F.replace(F.col("extracted"), F.lit("\n"),
                          F.lit("\\n")).alias("extracted"),
            ).orderBy("path"))
        elif args.cmd == "wat-links":
            from distributed_computing_projects_spark.sources import (
                wat,
            )

            _emit(wat.read_wat(spark, args.path)
                  .orderBy("src", "dst", "path"))
        elif args.cmd == "avro-scan":
            import glob as globmod
            import json as jsonmod

            from distributed_computing_projects_spark.sources import avro

            if args.schema_json:
                schema = jsonmod.loads(args.schema_json)
            else:
                pattern = args.path
                if os.path.isdir(pattern):
                    pattern = os.path.join(pattern, "*.avro")
                files = sorted(globmod.glob(pattern))
                if not files:
                    raise SystemExit(f"no files match {args.path}")
                schema = avro.infer_avro_schema(files[0])
            _emit(avro.read_avro(spark, args.path, schema))
        elif args.cmd == "mbox-extract":
            from pyspark.sql import functions as F

            from distributed_computing_projects_spark.sources import (
                mbox,
            )

            _emit(mbox.read_mbox(spark, args.path).select(
                "id", "subject", "sender",
                F.replace(F.col("extracted"), F.lit("\n"),
                          F.lit("\\n")).alias("extracted"),
            ).orderBy("id"))
        elif args.cmd == "xlsx-scan":
            from distributed_computing_projects_spark.sources import (
                xlsx,
            )

            _emit(xlsx.read_xlsx(spark, args.path, args.ddl,
                                 skip_header=not args.keep_header))
        elif args.cmd == "bson-scan":
            from distributed_computing_projects_spark.sources import (
                bsonfile,
            )

            _emit(bsonfile.read_bson(spark, args.path, args.ddl))
        elif args.cmd == "tfrecord-scan":
            from distributed_computing_projects_spark.sources import (
                tfrecord,
            )

            _emit(tfrecord.read_tfrecord(spark, args.path, args.ddl))
        elif args.cmd == "sqlite-scan":
            from distributed_computing_projects_spark.sources import (
                sqlitefile,
            )

            _emit(sqlitefile.read_sqlite(spark, args.path,
                                         args.table, args.ddl))
        elif args.cmd == "lake-maint":
            from distributed_computing_projects_spark.sources import (
                deltalake,
                hudi,
                hudimor,
                iceberg,
            )

            if args.op == "delta-delete":
                v = deltalake.delete_where(spark, args.path,
                                           args.where)
                print(f"committed version {v}")
            elif args.op == "delta-optimize":
                v = deltalake.optimize(spark, args.path)
                print("nothing to compact" if v < 0
                      else f"committed version {v}")
            elif args.op == "delta-vacuum":
                for rel in deltalake.vacuum(spark, args.path,
                                            dry_run=args.dry_run):
                    print(rel)
            elif args.op == "delta-restore":
                v = deltalake.restore_version(spark, args.path,
                                              args.version)
                print(f"committed version {v}")
            elif args.op == "delta-changes":
                _emit(deltalake.read_delta_changes(
                    spark, args.path, args.version))
            elif args.op == "iceberg-delete":
                s = iceberg.delete_where(spark, args.path,
                                         args.where)
                print(f"committed snapshot {s}")
            elif args.op == "iceberg-expire":
                for p in iceberg.expire_snapshots(
                        args.path, keep=args.keep,
                        dry_run=args.dry_run):
                    print(p)
            elif args.op == "hudi-clean":
                for rel in hudi.clean(args.path,
                                      dry_run=args.dry_run):
                    print(rel)
            elif args.op == "hudi-mor-compact":
                stats = hudimor.compact(spark, args.path, args.ddl,
                                        args.instant)
                for part, entries in sorted(stats.items()):
                    for st in entries:
                        print(f"{part}\t{st['fileId']}\t"
                              f"{st['path']}")
        elif args.cmd == "delta-scan":
            from distributed_computing_projects_spark.sources import (
                deltalake,
            )

            parts = None
            if args.partition:
                parts = dict(kv.split("=", 1)
                             for kv in args.partition)
            _emit(deltalake.read_delta(spark, args.path,
                                       version=args.version,
                                       partitions=parts))
        elif args.cmd == "iceberg-scan":
            from distributed_computing_projects_spark.sources import (
                iceberg,
            )

            parts = None
            if args.partition:
                parts = dict(kv.split("=", 1)
                             for kv in args.partition)
            _emit(iceberg.read_iceberg(
                spark, args.path, snapshot_id=args.snapshot_id,
                partitions=parts))
        elif args.cmd == "hudi-scan":
            from distributed_computing_projects_spark.sources import (
                hudi,
            )

            _emit(hudi.read_hudi(spark, args.path, args.ddl,
                                 as_of=args.as_of))
        elif args.cmd == "hudi-mor-scan":
            from distributed_computing_projects_spark.sources import (
                hudimor,
            )

            _emit(hudimor.read_hudi_mor(spark, args.path, args.ddl,
                                        as_of=args.as_of))
        elif args.cmd == "msgpack-scan":
            from distributed_computing_projects_spark.sources import (
                msgpackfile,
            )

            _emit(msgpackfile.read_msgpack(spark, args.path,
                                           args.ddl))
        elif args.cmd == "cbor-scan":
            from distributed_computing_projects_spark.sources import (
                cborfile,
            )

            _emit(cborfile.read_cbor(spark, args.path, args.ddl))
        elif args.cmd == "pb-scan":
            from distributed_computing_projects_spark.sources import (
                pbstream,
            )

            fmap = {}
            for kv in args.field:
                col, _, num = kv.partition("=")
                if num.endswith(":sint"):
                    fmap[col] = (int(num[:-5]), "sint")
                else:
                    fmap[col] = int(num)
            _emit(pbstream.read_pbstream(spark, args.path, args.ddl,
                                         fmap))
        elif args.cmd == "arrow-scan":
            import glob as globmod

            from distributed_computing_projects_spark.sources import (
                arrowipc,
            )

            ddl = args.ddl
            if not ddl:
                pattern = args.path
                if os.path.isdir(pattern):
                    pattern = os.path.join(pattern, "*.arrow*")
                files = sorted(globmod.glob(pattern))
                if not files:
                    raise SystemExit(f"no files match {args.path}")
                ddl = arrowipc.infer_ipc_ddl(files[0])
            _emit(arrowipc.read_arrow_ipc(spark, args.path, ddl))
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
