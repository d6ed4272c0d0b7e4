"""The workloads: dataflow metadata, one pass, and the output check.

A workload object knows how to
- ``metadata(in_dir, out_dir)``: the dataflow spec it runs (a dict in
  the reference's metadata shape), or None for ``query_mix``;
- ``facts(gen_result)``: the expected outputs, computed with plain
  Python/numpy/pandas from the generated input (never with Spark);
- ``run_pass(ctx)``: one closed-loop pass, from input to committed output;
- ``check(ctx)``: a list of problems with the committed output (empty
  when correct).

``ctx`` is a ``run.Context``: spark, the parsed metadata, the input and
output directories and the facts.
"""

from __future__ import annotations

import glob
import math
import os
import re
import shutil
from collections import Counter
from datetime import date, datetime, timezone
from decimal import Decimal

from perfbench import gen

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "top10_customers_by_revenue",
    "latest3_orders_per_customer",
    "events_sessionize",
    "events_tumbling_window",
    "dedup_exact",
    "minhash_lsh_pairs",
    "cosine_topk",
    "doc_quality_scores",
)

MINHASH_THRESHOLD = 0.5   # minhash_lsh_pairs' default Jaccard cutoff
DEDUP_THRESHOLD = 0.8     # corpus_dedup's dedup_near cutoff
_WS = re.compile(r"\s+")


def short_code(code: str) -> str:
    """``email-matches:^...$`` -> ``email-matches`` (metric-name safe)."""
    return code.split(":", 1)[0]


def _arrow_dir(path: str, fmt: str = "parquet"):
    """Read a Spark output directory (part files only) with pyarrow."""
    import pyarrow as pa
    import pyarrow.json as pj
    import pyarrow.parquet as pq

    files = sorted(f for f in glob.glob(os.path.join(path, "part-*"))
                   if not f.endswith(".crc"))
    if fmt == "json":
        tables = [pj.read_json(f) for f in files if os.path.getsize(f)]
    else:
        tables = [pq.read_table(f) for f in files]
    if not tables:
        return None
    return pa.concat_tables(tables, promote_options="default")


def _reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    name = ""
    why = ""
    ops_per_pass = 1          # operations one pass attempts
    check_each_pass = True    # False: one output check per run
    # warm passes run (and checked) but not timed: pass times keep
    # falling for a few passes after the first while the JIT settles
    warmup_passes = 2
    min_passes = 3            # fewest timed warm passes per run

    def generate(self, in_dir: str, seed: int) -> dict:
        return gen.GENERATORS[self.name](in_dir, seed)

    def metadata(self, in_dir: str, out_dir: str) -> dict | None:
        return None

    def run_pass(self, ctx) -> None:
        """Run the workload's dataflow once through ``run_dataflow``."""
        from spark_kafka_airflow_pipeline_spark import PipelineExecutor

        _reset(ctx.out_dir)
        PipelineExecutor(ctx.spark).run_dataflow(ctx.meta.dataflows[0])


# -- etl_batch --------------------------------------------------------

ETL_SCHEMA = ("user_id long, name string, email string, age long, "
              "amount double, country string, event_time string")
ETL_VALIDATIONS = [
    {"field": "name", "validations": ["notEmpty"]},
    {"field": "email", "validations": ["notNull", f"matches:{gen.EMAIL_RE}"]},
    {"field": "age", "validations": ["inRange:0:120"]},
    {"field": "amount", "validations": ["nonNegative"]},
]


class EtlBatch(Workload):
    name = "etl_batch"
    why = ("the reference dataflow at scale: JSON source, validate_fields, "
           "add_fields, parquet and JSON sinks, no shuffle")
    warmup_passes = 10
    min_passes = 8

    def metadata(self, in_dir, out_dir):
        return {"dataflows": [{
            "name": "etl-batch",
            "sources": [{"name": "events", "path": in_dir, "format": "JSON",
                         "schema": ETL_SCHEMA}],
            "transformations": [
                {"name": "validation", "type": "validate_fields",
                 "params": {"input": "events",
                            "validations": ETL_VALIDATIONS}},
                {"name": "enriched", "type": "add_fields",
                 "params": {"input": "validation_ok", "addFields": [
                     {"name": "amount_cents",
                      "function": "cast(round(amount * 100) as bigint)"},
                     {"name": "email_domain",
                      "function": "substring_index(email, '@', -1)"},
                     {"name": "event_date", "function": "to_date(event_time)"},
                 ]}},
            ],
            "sinks": [
                {"input": "enriched", "name": "ok", "paths": [out_dir],
                 "format": "PARQUET", "saveMode": "OVERWRITE"},
                {"input": "validation_ko", "name": "ko", "paths": [out_dir],
                 "format": "JSON", "saveMode": "OVERWRITE"},
            ],
        }]}

    def facts(self, result):
        import numpy as np

        df = result["frame"]
        name, email = df["name"], df["email"]
        fails = {
            "name-notEmpty": name.isna() | (name == ""),
            "email-notNull": email.isna(),
            f"email-matches:{gen.EMAIL_RE}":
                ~email.str.fullmatch(gen.EMAIL_RE, na=False).astype(bool),
            "age-inRange:0:120": ~df["age"].between(0, 120).fillna(False)
            .astype(bool),
            "amount-nonNegative": ~(df["amount"] >= 0),
        }
        ko = np.zeros(len(df), dtype=bool)
        for mask in fails.values():
            ko |= mask.to_numpy()
        ok = df[~ko]
        return {
            "input_rows": len(df),
            "ok_rows": int((~ko).sum()),
            "ko_rows": int(ko.sum()),
            "codes": {c: int(m.sum()) for c, m in fails.items()},
            "ok_cents": int(np.round(ok["amount"].to_numpy() * 100).sum()),
            "ok_domains": {k: int(v) for k, v in
                           ok["email"].str.split("@").str[1]
                           .value_counts().items()},
        }

    def check(self, ctx):
        import pyarrow.compute as pc

        f, problems = ctx.facts, []
        ok = _arrow_dir(os.path.join(ctx.out_dir, "ok"))
        ko = _arrow_dir(os.path.join(ctx.out_dir, "ko"), "json")
        n_ok = ok.num_rows if ok is not None else 0
        n_ko = ko.num_rows if ko is not None else 0
        if (n_ok, n_ko) != (f["ok_rows"], f["ko_rows"]):
            problems.append(f"ok/ko rows {n_ok}/{n_ko}, expected "
                            f"{f['ok_rows']}/{f['ko_rows']}")
        if ok is not None:
            cents = pc.sum(ok["amount_cents"]).as_py()
            if cents != f["ok_cents"]:
                problems.append(f"ok amount_cents sum {cents} != {f['ok_cents']}")
            domains = {d["values"]: d["counts"] for d in
                       pc.value_counts(ok["email_domain"]).to_pylist()}
            if domains != f["ok_domains"]:
                problems.append(f"ok email_domain counts {domains}")
        codes = Counter()
        if ko is not None:
            codes.update(pc.list_flatten(ko["arraycoderrorbyfield"])
                         .to_pylist())
        want = {c: n for c, n in f["codes"].items() if n}
        if dict(codes) != want:
            problems.append(f"error-code counts {dict(codes)} != {want}")
        ctx.observed = {"ok_rows": n_ok, "ko_rows": n_ko, "codes": dict(codes)}
        return problems


# -- stream_upsert ----------------------------------------------------

STREAM_SCHEMA = ("seq long, user_id long, name string, event_type string, "
                 "value double")
STREAM_VALIDATIONS = [
    {"field": "name", "validations": ["notEmpty"]},
    {"field": "value", "validations": ["nonNegative"]},
]


class StreamUpsert(Workload):
    name = "stream_upsert"
    why = ("a JSON backlog drained by availableNow micro-batches into an "
           "append sink and a keyed upsert sink")
    warmup_passes = 8
    min_passes = 8

    def metadata(self, in_dir, out_dir):
        return {"dataflows": [{
            "name": "stream-upsert",
            "sources": [{"name": "events", "path": in_dir, "format": "JSON",
                         "streaming": True, "schema": STREAM_SCHEMA,
                         "options": {"maxFilesPerTrigger": "1"}}],
            "transformations": [
                {"name": "validation", "type": "validate_fields",
                 "params": {"input": "events",
                            "validations": STREAM_VALIDATIONS}},
            ],
            "sinks": [
                {"input": "validation_ok", "name": "events",
                 "paths": [out_dir], "format": "PARQUET",
                 "saveMode": "APPEND"},
                {"input": "validation_ok", "name": "current",
                 "paths": [out_dir], "format": "upsert", "saveMode": "append",
                 "options": {"keys": "user_id", "orderBy": "seq"}},
            ],
        }]}

    def facts(self, result):
        df = result["frame"]
        ok = df[(df["name"] != "") & (df["value"] >= 0)]
        latest = ok.groupby("user_id")["seq"].max()
        return {
            "input_rows": len(df),
            "ok_rows": len(ok),
            "ko_rows": len(df) - len(ok),
            "files": result["files"],
            "keys": int(latest.size),
            "latest": {str(k): int(v) for k, v in latest.items()},
        }

    def check(self, ctx):
        f, problems = ctx.facts, []
        events = _arrow_dir(os.path.join(ctx.out_dir, "events"))
        n = events.num_rows if events is not None else 0
        if n != f["ok_rows"]:
            problems.append(f"append sink rows {n} != {f['ok_rows']}")
        state = _arrow_dir(os.path.join(ctx.out_dir, "current"))
        got = {} if state is None else dict(zip(
            map(str, state["user_id"].to_pylist()), state["seq"].to_pylist()))
        if state is not None and state.num_rows != len(got):
            problems.append("upsert state holds duplicate keys")
        if len(got) != f["keys"]:
            problems.append(f"upsert state keys {len(got)} != {f['keys']}")
        elif got != f["latest"]:
            bad = sum(got.get(k) != v for k, v in f["latest"].items())
            problems.append(f"upsert argmax differs on {bad} keys")
        state_bytes = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(ctx.out_dir, "current", "part-*")))
        ctx.observed = {"ok_rows": n, "ko_rows": f["input_rows"] - n,
                        "state_rows": len(got), "state_bytes": state_bytes}
        return problems


# -- query_mix --------------------------------------------------------

def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, Decimal)):
        v = float(v)
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return repr(v)


def _rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def shingle_set(text: str, k: int = 3) -> set:
    """Distinct word k-shingles with the engine's tokenization (lowercase,
    trim, split on whitespace runs)."""
    toks = _WS.split(text.lower().strip())
    n = max(len(toks) - (k - 1), 1)
    return {tuple(toks[i:i + k]) for i in range(n)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class QueryMix(Workload):
    name = "query_mix"
    why = ("the 12 headline queries, each fully materialized through the "
           "noop sink: joins, aggregates, windows, near-dup operators")
    ops_per_pass = len(HEADLINE)
    warmup_passes = 0
    min_passes = 2
    # collecting every query again for the oracle compare costs a whole
    # pass, so the outputs are checked once per run, after the timed passes
    check_each_pass = False

    def facts(self, result):
        return {"input_rows": result["rows"], "tables": result["tables"]}

    def run_pass(self, ctx, on_query=None):
        """Build and fully materialize each query; ``on_query(name, fn)``
        lets a traced pass wrap each one."""
        for name in HEADLINE:
            def materialize(name=name):
                (ctx.queries[name](ctx.spark, ctx.in_dir)
                 .write.format("noop").mode("overwrite").save())
            if on_query is None:
                materialize()
            else:
                on_query(name, materialize)

    def check(self, ctx):
        """Each query's collected rows against its DuckDB oracle twin;
        minhash_lsh_pairs (no oracle) by exact Jaccard of every pair."""
        import duckdb

        problems = []
        con = duckdb.connect()
        for t in ctx.facts["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{ctx.in_dir}/{t}.parquet')")
        for name in HEADLINE:
            df = ctx.queries[name](ctx.spark, ctx.in_dir)
            got = df.collect()
            if name in ctx.oracles:
                cur = con.execute(ctx.oracles[name])
                cols = [d[0] for d in cur.description]
                want = _rows(cols, cur.fetchall())
                have = _rows(df.columns, got)
                if have != want:
                    problems.append(f"{name}: {len(have)} rows differ from "
                                    f"the oracle's {len(want)}")
            elif name == "minhash_lsh_pairs":
                problems += self._check_pairs(con, got)
                # docs a keep-first dedup over these pairs would drop
                ctx.observed["dropped_docs"] = len({p.doc_b for p in got})
        con.close()
        return problems

    @staticmethod
    def _check_pairs(con, pairs):
        texts = dict(con.execute("SELECT doc_id, text FROM documents")
                     .fetchall())
        bad = 0
        for p in pairs:
            j = jaccard(shingle_set(texts[p.doc_a]), shingle_set(texts[p.doc_b]))
            if (p.doc_a >= p.doc_b or j < MINHASH_THRESHOLD
                    or abs(j - p.jaccard) > 1e-6):
                bad += 1
        return [f"minhash_lsh_pairs: {bad} of {len(pairs)} pairs fail "
                "exact Jaccard"] if bad else []


# -- corpus_dedup -----------------------------------------------------

CORPUS_VALIDATIONS = [
    {"field": "text", "validations": ["notBlank", "minLength:20"]},
    {"field": "lang", "validations": ["oneOf:" + "|".join(gen.CORPUS_LANGS)]},
]


def near_dup_pairs(ids, texts, threshold: float) -> list[tuple[int, int]]:
    """Every pair (a < b) of documents whose exact word-3-shingle Jaccard
    is >= threshold, via an inverted index over shingles (pairs that
    share no shingle have Jaccard 0)."""
    import numpy as np

    vocab: dict[str, int] = {}
    sets = []
    for text in texts:
        toks = [vocab.setdefault(t, len(vocab))
                for t in _WS.split(text.lower().strip())]
        sets.append({tuple(toks[i:i + 3])
                     for i in range(max(len(toks) - 2, 1))})
    base = len(vocab) + 1
    owner, key = [], []
    for d, s in enumerate(sets):
        for sh in s:
            code = 0
            for t in sh:
                code = code * base + t + 1
            owner.append(d)
            key.append(code)
    owner = np.asarray(owner)
    key = np.asarray(key, dtype=np.int64)
    order = np.argsort(key, kind="stable")
    key, owner = key[order], owner[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    sizes = np.diff(np.r_[starts, len(key)])
    inter = Counter()
    for s, n in zip(starts[sizes > 1], sizes[sizes > 1]):
        docs = sorted(owner[s:s + n])
        for i in range(n):
            for j in range(i + 1, n):
                inter[(docs[i], docs[j])] += 1
    out = []
    for (a, b), n in inter.items():
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold:
            out.append((int(ids[a]), int(ids[b])))
    return sorted(out)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    why = ("a corpus-prep dataflow: quality gate, then dedup_near over "
           "planted near-duplicate clusters, train and rejected sinks")

    def metadata(self, in_dir, out_dir):
        return {"dataflows": [{
            "name": "corpus-dedup",
            "sources": [{"name": "docs", "path": in_dir,
                         "format": "PARQUET"}],
            "transformations": [
                {"name": "gate", "type": "validate_fields",
                 "params": {"input": "docs",
                            "validations": CORPUS_VALIDATIONS}},
                {"name": "dedup", "type": "dedup_near",
                 "params": {"input": "gate_ok", "idColumn": "doc_id",
                            "textColumn": "text",
                            "threshold": DEDUP_THRESHOLD}},
            ],
            "sinks": [
                {"input": "dedup", "name": "train", "paths": [out_dir],
                 "format": "PARQUET", "saveMode": "OVERWRITE"},
                {"input": "gate_ko", "name": "rejected", "paths": [out_dir],
                 "format": "PARQUET", "saveMode": "OVERWRITE"},
            ],
        }]}

    def facts(self, result):
        t = result["table"]
        ids = t["doc_id"].to_pylist()
        texts = t["text"].to_pylist()
        langs = t["lang"].to_pylist()
        codes = Counter()
        ok = []
        for i, text, lang in zip(ids, texts, langs):
            fails = []
            if text.strip() == "":
                fails.append("text-notBlank")
            if len(text) < 20:
                fails.append("text-minLength:20")
            if lang not in gen.CORPUS_LANGS:
                fails.append("lang-oneOf:" + "|".join(gen.CORPUS_LANGS))
            codes.update(fails)
            if not fails:
                ok.append(i)
        ok_set = set(ok)
        ok_idx = [i for i in range(len(ids)) if ids[i] in ok_set]
        pairs = near_dup_pairs([ids[i] for i in ok_idx],
                               [texts[i] for i in ok_idx], DEDUP_THRESHOLD)
        dropped = {b for _, b in pairs}
        planted = {(c[0], m) for c in result["clusters"] for m in c[1:]}
        return {
            "input_rows": len(ids),
            "ok_rows": len(ok),
            "ko_rows": len(ids) - len(ok),
            "codes": dict(codes),
            "pairs": len(pairs),
            "planted_pairs": len(planted),
            "planted_found": len(planted & set(pairs)),
            "kept": sorted(ok_set - dropped),
            "rejected": sorted(set(ids) - ok_set),
        }

    def check(self, ctx):
        f, problems = ctx.facts, []
        if f["planted_found"] != f["planted_pairs"]:
            problems.append("generator: a planted pair is below threshold")
        train = _arrow_dir(os.path.join(ctx.out_dir, "train"))
        rej = _arrow_dir(os.path.join(ctx.out_dir, "rejected"))
        kept = sorted(train["doc_id"].to_pylist()) if train is not None else []
        rejected = sorted(rej["doc_id"].to_pylist()) if rej is not None else []
        if kept != f["kept"]:
            extra = len(set(kept) - set(f["kept"]))
            missing = len(set(f["kept"]) - set(kept))
            problems.append(f"train set: {extra} near-dups kept, "
                            f"{missing} docs wrongly dropped")
        if rejected != f["rejected"]:
            problems.append(f"rejected {len(rejected)} docs, expected "
                            f"{len(f['rejected'])}")
        codes = Counter()
        if rej is not None:
            import pyarrow.compute as pc
            codes.update(pc.list_flatten(rej["arraycoderrorbyfield"])
                         .to_pylist())
        if dict(codes) != f["codes"]:
            problems.append(f"error-code counts {dict(codes)} != {f['codes']}")
        ok_rows = f["input_rows"] - len(rejected)
        ctx.observed = {"ok_rows": ok_rows, "ko_rows": len(rejected),
                        "codes": dict(codes),
                        "dropped_docs": ok_rows - len(kept)}
        return problems


WORKLOADS = {w.name: w for w in (EtlBatch(), StreamUpsert(), QueryMix(),
                                 CorpusDedup())}
