"""Independent oracles: plain Python/numpy over the generator's records or
the files on disk.  Nothing here calls into ``staticql_spark``.

Semantics follow the docstrings of ``plans/filters.py`` (values compare as
strings, arrays match if any element matches), ``plans/pagination.py``
(order is (stringified value with null as "", slug) in code-point order,
``after``/``before`` keyset cursors, pageSize+1 probe) and ``relations.py``
(to-many: deduped, ordered by (key value, foreign slug); to-one: first
match or null).
"""

from __future__ import annotations

import gzip
import json
import os
import re
from collections import Counter
from urllib.parse import unquote

import numpy as np

# ------------------------------------------------------------------ values


def values(rec: dict, field: str) -> list[str]:
    """Stringified values of one field: array elements, or the scalar; nulls drop."""
    v = rec.get(field)
    if isinstance(v, list):
        return [str(x) for x in v if x is not None]
    return [] if v is None else [str(v)]


def matches(rec: dict, field: str, op: str, value) -> bool:
    vals = values(rec, field)
    if op == "eq":
        return str(value) in vals
    if op == "startsWith":
        return any(x.startswith(str(value)) for x in vals)
    if op == "in":
        return bool(set(vals) & {str(x) for x in value})
    raise ValueError(op)


def order_value(rec: dict, key: str) -> str:
    """Stringified order value (first element of an array), null as ""."""
    v = rec.get(key)
    if isinstance(v, list):
        v = v[0] if v else None
    return "" if v is None else str(v)


# ------------------------------------------------------------------ pages


def ordered(records: dict[str, dict], filters, key: str, direction: str) -> list[str]:
    """Slugs passing every filter, in (order value, slug) walk order."""
    rows = [
        (order_value({"slug": s, **r}, key), s)
        for s, r in records.items()
        if all(matches({"slug": s, **r}, f, op, v) for f, op, v in filters)
    ]
    rows.sort(reverse=direction == "desc")
    return [s for _, s in rows]


def page(
    records: dict[str, dict], filters, key: str, direction: str, size: int,
    cursor: tuple[str, str] | None = None, cursor_dir: str = "after",
) -> tuple[list[str], bool, bool]:
    """(slugs, has_next_page, has_previous_page) for one page.

    ``cursor`` is the (order value, slug) the cursor encodes."""
    full = ordered(records, filters, key, direction)
    if cursor is None:
        return full[:size], len(full) > size, False
    keyed = [(order_value({"slug": s, **records[s]}, key), s) for s in full]
    desc = direction == "desc"
    if cursor_dir == "after":
        beyond = [s for k, s in keyed if ((k, s) < cursor if desc else (k, s) > cursor)]
        return beyond[:size], len(beyond) > size, True
    before = [s for k, s in keyed if ((k, s) > cursor if desc else (k, s) < cursor)]
    return before[-size:], True, len(before) > size


# ------------------------------------------------------------------ relations


def to_many(local_vals: list[str], foreign: dict[str, dict], foreign_key: str) -> list[str]:
    """Foreign slugs matching any local key value, deduped by slug, ordered by
    (smallest matching key value, foreign slug)."""
    rank: dict[str, tuple[str, str]] = {}
    for lv in set(local_vals):
        for fs, frec in foreign.items():
            if lv in values({"slug": fs, **frec}, foreign_key):
                rank[fs] = min(rank.get(fs, (lv, fs)), (lv, fs))
    return [fs for fs, _ in sorted(rank.items(), key=lambda kv: kv[1])]


def through(
    local_vals: list[str], mid: dict[str, dict], mid_fk: str, mid_lk: str,
    target: dict[str, dict], target_fk: str,
) -> list[str]:
    """Two-hop to-many: local -> mid (mid_fk) -> mid_lk values -> target (target_fk)."""
    hop: list[str] = []
    for ms, mrec in mid.items():
        m = {"slug": ms, **mrec}
        if set(values(m, mid_fk)) & set(local_vals):
            hop.extend(values(m, mid_lk))
    return to_many(hop, target, target_fk)


# ------------------------------------------------------------------ index


def index_fields(config: dict) -> dict[str, list[str]]:
    """Indexed fields per source: slug, the declared ones, and every relation
    key on both sides of each relation (config.py's derivation rule)."""
    srcs = config["sources"]
    out = {n: {"slug", *s.get("index", [])} for n, s in srcs.items()}
    for n, s in srcs.items():
        for rel in (s.get("relations") or {}).values():
            if rel["type"].endswith("Through"):
                out[n].add(rel["sourceLocalKey"])
                out[rel["to"]].add(rel["targetForeignKey"])
                out[rel["through"]].update((rel["throughForeignKey"], rel["throughLocalKey"]))
            else:
                out[n].add(rel.get("localKey", "slug"))
                out[rel["to"]].add(rel.get("foreignKey", "slug"))
    return {n: sorted(f) for n, f in out.items()}


def prefix(v: str, depth: int) -> str:
    if v == "":
        return "0000"
    return "/".join(f"{ord(c):04x}" for c in v[:depth])


def index_rows(records: dict[str, dict], fields: list[str], depth: int) -> Counter:
    """Multiset of (field, prefix, v, vs, slug) covering-index rows."""
    rows: Counter = Counter()
    for s, r in records.items():
        rec = {"slug": s, **r}
        for f in fields:
            for v in values(rec, f):
                rows[(f, prefix(v, depth), v, s, s)] += 1
    return rows


def read_parquet_index(target: str) -> Counter:
    """The on-disk index as the same multiset.  ``field``/``prefix`` come
    from the directory names as strings (no partition type inference)."""
    import pyarrow.parquet as pq

    rows: Counter = Counter()
    if not os.path.isdir(target):
        return rows
    for fdir in os.listdir(target):
        if not fdir.startswith("field="):
            continue
        field = unquote(fdir[len("field="):])
        for pdir in os.listdir(os.path.join(target, fdir)):
            if not pdir.startswith("prefix="):
                continue
            pfx = unquote(pdir[len("prefix="):])
            d = os.path.join(target, fdir, pdir)
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue
                t = pq.ParquetFile(os.path.join(d, fn)).read(columns=["v", "vs", "slug"])
                for v, vs, slug in zip(*(t.column(c).to_pylist() for c in ("v", "vs", "slug"))):
                    rows[(field, pfx, v, vs, slug)] += 1
    return rows


def partitions(rows: Counter) -> dict[tuple[str, str], Counter]:
    out: dict[tuple[str, str], Counter] = {}
    for (f, p, v, vs, s), n in rows.items():
        out.setdefault((f, p), Counter())[(v, vs, s)] += n
    return out


def jsonl_shards(rows: Counter, source: str) -> dict[str, list[dict]]:
    """Expected ``index/{source}.{field}/{prefix}/_index.jsonl`` contents:
    lines {v, vs, ref} in (v, vs) order; ref maps each slug to every
    indexed field's sorted prefix list."""
    ref: dict[str, dict[str, set[str]]] = {}
    for (f, p, _v, _vs, s) in rows:
        ref.setdefault(s, {}).setdefault(f, set()).add(p)
    shards: dict[str, list[tuple]] = {}
    for (f, p, v, vs, s), n in rows.items():
        shards.setdefault(f"index/{source}.{f}/{p}/_index.jsonl", []).extend([(v, vs, s)] * n)
    return {
        path: [
            {"v": v, "vs": vs, "ref": {s: {f: sorted(ps) for f, ps in ref[s].items()}}}
            for v, vs, s in sorted(lines)
        ]
        for path, lines in shards.items()
    }


def check_jsonl(root: str, expected: dict[str, list[dict]], source: str) -> list[str]:
    """Problems found comparing the exported JSONL tree of one source."""
    problems = []
    found = set()
    base = os.path.join(root, "index")
    for dirpath, _dirs, files in os.walk(base):
        for fn in files:
            rel = os.path.relpath(os.path.join(dirpath, fn), root)
            if fn == "_index.jsonl" and rel.startswith(f"index/{source}."):
                found.add(rel)
    if found != set(expected):
        problems.append(f"{source}: shard set differs ({len(found)} vs {len(expected)})")
    for rel in sorted(found & set(expected)):
        with open(os.path.join(root, rel), "rb") as f:
            data = f.read()
        with open(os.path.join(root, rel + ".gz"), "rb") as f:
            if gzip.decompress(f.read()) != data:
                problems.append(f"{rel}: .gz twin differs")
        lines = [json.loads(x) for x in data.decode("utf-8").splitlines()]
        if lines != expected[rel]:
            problems.append(f"{rel}: lines differ")
    return problems


# ------------------------------------------------------------------ near-dup


def cosines(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    q64, c64 = q.astype(np.float64), c.astype(np.float64)
    return (q64 @ c64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(c64, axis=1))


def check_topk(rows, q_ids, q_vecs, c_ids, c_vecs, k, copies) -> list[str]:
    """``rows`` = (query_id, neighbor_id, cosine, rank) tuples."""
    tol = 2e-6
    problems = []
    cos = cosines(q_vecs, c_vecs)
    col = {int(i): j for j, i in enumerate(c_ids)}
    by_q: dict[int, list] = {}
    for qid, nid, score, rank in rows:
        by_q.setdefault(int(qid), []).append((int(rank), int(nid), float(score)))
    copy_of: dict[int, set[int]] = {}
    for a, b in copies:
        copy_of.setdefault(a, set()).add(b)
        copy_of.setdefault(b, set()).add(a)
    for qi, qid in enumerate(int(x) for x in q_ids):
        got = sorted(by_q.get(qid, []))
        others = np.array([cos[qi, j] for i, j in col.items() if i != qid])
        want_n = min(k, len(others))
        if [r for r, _, _ in got] != list(range(1, want_n + 1)):
            problems.append(f"query {qid}: ranks {[r for r, _, _ in got]}")
            continue
        for _, nid, score in got:
            if nid == qid:
                problems.append(f"query {qid}: self-match")
            elif abs(score - round(float(cos[qi, col[nid]]), 6)) > tol:
                problems.append(f"query {qid}: cosine of {nid} is {score}")
        kth = np.sort(others)[::-1][want_n - 1]
        if got and got[-1][2] < round(float(kth), 6) - tol:
            problems.append(f"query {qid}: k-th score {got[-1][2]} below {kth:.6f}")
        missing = (copy_of.get(qid, set()) & set(col)) - {n for _, n, _ in got}
        if missing:
            problems.append(f"query {qid}: planted copies {sorted(missing)} missing")
    return problems


def check_semantic(rows, ids, vecs, threshold, copies) -> list[str]:
    """``rows`` = (id_a, id_b, cosine) tuples."""
    pos = {int(i): j for j, i in enumerate(ids)}
    problems = []
    pairs = set()
    for a, b, score in rows:
        a, b = int(a), int(b)
        pairs.add((a, b))
        c = float(cosines(vecs[[pos[a]]], vecs[[pos[b]]])[0, 0])
        if not a < b:
            problems.append(f"pair ({a}, {b}) not ordered")
        if round(c, 6) < threshold - 2e-6 or abs(score - round(c, 6)) > 2e-6:
            problems.append(f"pair ({a}, {b}): cosine {c:.6f} reported {score}")
    for a, b in copies:
        if (min(a, b), max(a, b)) not in pairs:
            problems.append(f"planted copy ({a}, {b}) missing")
    return problems


def word_3grams(text: str) -> set[tuple[str, ...]]:
    toks = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def check_lsh(rows, texts: dict[int, str], threshold, copies) -> list[str]:
    """``rows`` = (id_a, id_b, jaccard) tuples."""
    problems = []
    pairs = set()
    for a, b, _j in rows:
        a, b = int(a), int(b)
        pairs.add((a, b))
        sa, sb = word_3grams(texts[a]), word_3grams(texts[b])
        jac = len(sa & sb) / len(sa | sb)
        if jac < threshold:
            problems.append(f"pair ({a}, {b}): jaccard {jac:.4f} below {threshold}")
    for a, b in copies:
        if (min(a, b), max(a, b)) not in pairs:
            problems.append(f"planted copy ({a}, {b}) missing")
    return problems
