"""Seeded inputs for the three workloads and their DuckDB oracles.

Every input is a pure function of the seed. The program under test only
ever sees the generated parquet; the expected outputs are computed by
DuckDB over the same files (or, for the near-duplicate corpus, fixed by
how it is built), during set-up and outside any timed operation.
"""

from __future__ import annotations

import os
import random

import duckdb

from validate_spark.sources.synth import synth_documents, synth_media_catalog

# -- sizes (stated in perfbench/README.md and in every result file) ----------

N_DOCS = 100_000          # interleaved documents table (bulk_validate, dataset_checks)
N_CATALOG = 100_000       # media catalog refs m-00000000 .. m-00099999
ND_BASE_DOCS = 1_000      # near_dup corpus: distinct documents
ND_DUP_SHARE = 0.10       # planted near copies, as a share of the base docs
ND_WORDS = 60             # words per near_dup document
ND_VOCAB = 5_000          # pseudo-words in the near_dup vocabulary

# Same rule text as SPANS_RULES in __spark_entry__.py, pinned here so the
# workload cannot move under the benchmark. ``doc_id_min`` (the doc_id
# minLength bound) and ``kinds`` (the order of the kind enum) vary it: a
# new combination is a rule set the process has not seen.
DOC_ID_MIN = 5
KINDS = ("text", "image", "audio", "video")


def spans_rules(doc_id_min: int = DOC_ID_MIN, kinds: tuple = KINDS) -> dict:
    return {
        "doc_id": f"required|minLength:{doc_id_min}",
        "spans": "required|minLength:1",
        "spans.*.kind": f"required|enum:{','.join(kinds)}",
        "spans.*.offset": "min:0",
        "spans.*.media_ref": "regexp:^m-[0-9]{8}$",
    }


class _OffsetSession:
    """Session proxy whose ``range`` is shifted by a seed-derived offset:
    ``sources.synth`` derives every row from its id alone, so shifting the
    ids gives a different table with the same violation classes."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end=None, step=1, numPartitions=None):
        return self._spark.range(start + self._offset, end + self._offset, step, numPartitions)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def id_offset(seed: int) -> int:
    # doc ids are 12 digits wide; keep offset + N_DOCS below 10^12
    return (seed % 900_000) * 1_000_000


def write_docs(spark, seed: int, work: str) -> dict:
    """The documents table and media catalog, written once per run."""
    docs = os.path.join(work, "docs")
    cat = os.path.join(work, "catalog")
    synth_documents(_OffsetSession(spark, id_offset(seed)), N_DOCS).write.parquet(docs)
    synth_media_catalog(spark, N_CATALOG).write.parquet(cat)
    return {"docs": docs, "catalog": cat}


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


# -- documents oracles ---------------------------------------------------------

RULE_KEYS = [
    ("doc_id", "required"), ("doc_id", "minLength"),
    ("spans", "required"), ("spans", "minLength"),
    ("spans.*.kind", "required"), ("spans.*.kind", "enum"),
    ("spans.*.offset", "min"), ("spans.*.media_ref", "regexp"),
]


def _rule_counts(con, doc_id_mins) -> dict:
    """doc_id minLength bound -> per-rule failure counts and failing-row
    count of ``spans_rules(bound)`` over the ``docs`` view, in one scan."""
    # skip-on-empty: non-required rules pass on NULL/empty values; a
    # wildcard rule fails if any element fails; required on a wildcard
    # also fails when the array is empty
    per_min = ", ".join(
        f"count_if(NOT did_req AND did_len < {int(m)}), "
        f"count_if(other OR (NOT did_req AND did_len < {int(m)}))"
        for m in doc_id_mins)
    row = con.execute(f"""
        WITH c AS (
          SELECT (doc_id IS NULL OR doc_id = '') AS did_req,
                 (spans IS NULL OR len(spans) = 0) AS sp_req,
                 doc_id, spans FROM docs
        ), r AS (
          SELECT did_req, length(doc_id) AS did_len,
                 sp_req,
                 sp_req OR len(list_filter(spans, s -> s.kind IS NULL OR s.kind = '')) > 0 AS kind_req,
                 NOT sp_req AND len(list_filter(spans, s -> s.kind <> ''
                     AND s.kind NOT IN ('text', 'image', 'audio', 'video'))) > 0 AS kind_enum,
                 NOT sp_req AND len(list_filter(spans, s -> s."offset" < 0)) > 0 AS off_min,
                 NOT sp_req AND len(list_filter(spans, s -> s.media_ref <> ''
                     AND NOT regexp_full_match(s.media_ref, 'm-[0-9]{{8}}'))) > 0 AS ref_re
          FROM c
        ), o AS (
          SELECT *, did_req OR sp_req OR kind_req OR kind_enum OR off_min OR ref_re AS other FROM r
        )
        SELECT count_if(did_req), count_if(sp_req), count_if(kind_req), count_if(kind_enum),
               count_if(off_min), count_if(ref_re), {per_min}
        FROM o
    """).fetchone()
    did_req, sp_req, kind_req, kind_enum, off_min, ref_re = (int(v) for v in row[:6])
    out = {}
    for j, m in enumerate(doc_id_mins):
        did_min, n_failing = int(row[6 + 2 * j]), int(row[7 + 2 * j])
        rule_fail = dict(zip(RULE_KEYS, (did_req, did_min, sp_req, 0, kind_req, kind_enum,
                                         off_min, ref_re)))
        out[m] = {"rule_fail": rule_fail, "n_violations": sum(rule_fail.values()),
                  "n_failing_rows": n_failing}
    return out


def docs_oracle(paths: dict, doc_id_mins=(DOC_ID_MIN,)) -> dict:
    """Expected outputs over the documents table: for each doc_id minLength
    bound, per-rule failure counts and the failing-row count; duplicate
    keys, dangling refs, span-count histograms of the two key-hash halves
    and column stats."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM {_pq(paths['docs'])}")
    con.execute(f"CREATE VIEW cat AS SELECT * FROM {_pq(paths['catalog'])}")
    rules = _rule_counts(con, doc_id_mins)
    dup_keys = con.execute("""
        SELECT count(*) FROM (SELECT doc_id FROM docs WHERE doc_id IS NOT NULL
                              GROUP BY doc_id HAVING count(*) > 1)
    """).fetchone()[0]
    dangling, dangling_distinct = con.execute("""
        WITH refs AS (SELECT unnest(list_filter(spans, s -> s.media_ref IS NOT NULL)).media_ref AS r
                      FROM docs)
        SELECT count(*), count(DISTINCT r) FROM refs WHERE r NOT IN (SELECT ref FROM cat)
    """).fetchone()
    hist = con.execute("""
        SELECT substr(md5(doc_id), 1, 1) < '8' AS half, len(spans) AS n, count(*)
        FROM docs WHERE doc_id IS NOT NULL GROUP BY ALL
    """).fetchall()
    stats = con.execute("""
        SELECT count(*), count(*) - count(doc_id), count_if(doc_id = ''),
               min(doc_id), max(doc_id), count(*) - count(spans)
        FROM docs
    """).fetchone()
    con.close()
    halves = {True: {}, False: {}}
    for half, n, cnt in hist:
        halves[bool(half)][int(n)] = int(cnt)
    return {
        "n_rows": int(stats[0]),
        "rules": rules,
        "dup_keys": int(dup_keys),
        "dangling": int(dangling),
        "dangling_distinct": int(dangling_distinct),
        "span_hist": halves,
        "column_stats": {
            "doc_id": {"n": stats[0], "n_null": stats[1], "n_empty": stats[2],
                       "min_str": stats[3], "max_str": stats[4]},
            "spans": {"n": stats[0], "n_null": stats[5]},
        },
    }


def routed_counts(path: str) -> dict:
    """(verdict -> rows) of a ``write_routed`` output directory."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT verdict, count(*) FROM read_parquet('{path}/*/*.parquet', "
        "hive_partitioning = true) GROUP BY verdict"
    ).fetchall()
    con.close()
    return {str(v).lower(): int(n) for v, n in rows}


# -- near-duplicate corpus -------------------------------------------------------

def write_near_dup(seed: int, work: str) -> tuple[str, set]:
    """A corpus of random pseudo-word documents plus planted near copies
    (one word replaced, character 5-shingle Jaccard about 0.95). Random
    documents share almost no shingles, so the expected near-duplicate
    pairs are exactly the planted ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({
        "".join(rnd.choice(letters) for _ in range(rnd.randint(4, 9)))
        for _ in range(ND_VOCAB)
    })
    keys, texts = [], []
    for i in range(ND_BASE_DOCS):
        keys.append(f"d{i:07d}")
        texts.append([rnd.choice(vocab) for _ in range(ND_WORDS)])
    pairs = set()
    for c, src in enumerate(rnd.sample(range(ND_BASE_DOCS), int(ND_BASE_DOCS * ND_DUP_SHARE))):
        words = list(texts[src])
        pos = rnd.randrange(ND_WORDS)
        words[pos] = rnd.choice([w for w in vocab[:50] if w != words[pos]])
        keys.append(f"n{c:07d}")
        texts.append(words)
        pairs.add(tuple(sorted((keys[src], keys[-1]))))
    path = os.path.join(work, "near_dup")
    os.makedirs(path)
    table = pa.table({"doc_id": keys, "text": [" ".join(t) for t in texts]})
    # four files, so the pandas-UDF stage runs four tasks, one per core
    step = -(-table.num_rows // 4)
    for j in range(4):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j}.parquet"))
    return path, pairs
