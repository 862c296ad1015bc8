"""Seeded input generator for the end-to-end benchmark.

Everything here is plain Python/numpy: the same seed gives byte-identical
inputs.  The generator keeps the records it wrote in memory (``Corpus``), so
the oracles in ``oracle.py`` check the program against these records, never
against anything the program produced.

Content tree (under ``root``)::

    herbs/<slug>.md      Markdown frontmatter: name (non-ASCII for some),
                         tags (array), rank (int, missing for some),
                         familySlug (belongsTo families), note (optional)
    families/<slug>.yaml one YAML record per file
    recipes.json         one multi-record JSON file; herbSlugs (array,
                         hasMany herbs over the array key)
    posts/<date-slug>.md date-slugged posts whose indexed fields (slug,
                         date, views) all start with a digit
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import yaml

N_HERBS, N_FAMILIES, N_RECIPES, N_POSTS = 40, 8, 20, 8
TAGS = ["bitter", "calming", "citrus", "floral", "minty", "resinous", "spicy", "sweet"]
# name stems: ASCII, Latin-1, kana and kanji, so index prefixes and the
# code-point order cover more than one plane of the BMP
STEMS = [
    "Anise", "Basil", "Chamomile", "Dill", "Elder", "Fennel", "Ginger", "Hyssop",
    "Échinacée", "Ôrtie", "Süßholz", "Çay", "ドクダミ", "ゴボウ", "ハッカ", "甘草", "薄荷",
]
SYLLABLES = ["ra", "mi", "to", "ke", "su", "no", "ha", "li", "vo", "zen"]

CONFIG = {
    "sources": {
        "herbs": {
            "pattern": "herbs/*.md",
            "type": "markdown",
            "schema": {
                "type": "object",
                "properties": {
                    "name": {"type": "string"},
                    "tags": {"type": "array", "items": {"type": "string"}},
                    "rank": {"type": "integer"},
                    "familySlug": {"type": "string"},
                    "note": {"type": "string"},
                },
                "required": ["name"],
            },
            "relations": {
                "family": {
                    "type": "belongsTo", "to": "families",
                    "localKey": "familySlug", "foreignKey": "slug",
                },
            },
            "index": ["name", "tags", "rank"],
            "indexDepth": 2,
        },
        "families": {
            "pattern": "families/*.yaml",
            "type": "yaml",
            "schema": {
                "type": "object",
                "properties": {"name": {"type": "string"}, "region": {"type": "string"}},
                "required": ["name"],
            },
            "relations": {
                "recipes": {
                    "type": "hasManyThrough", "to": "recipes", "through": "herbs",
                    "sourceLocalKey": "slug", "throughForeignKey": "familySlug",
                    "throughLocalKey": "slug", "targetForeignKey": "herbSlugs",
                },
            },
            "index": ["name"],
        },
        "recipes": {
            "pattern": "recipes.json",
            "type": "json",
            "schema": {
                "type": "object",
                "properties": {
                    "title": {"type": "string"},
                    "herbSlugs": {"type": "array", "items": {"type": "string"}},
                    "servings": {"type": "integer"},
                },
                "required": ["title"],
            },
            "relations": {
                "herbs": {
                    "type": "hasMany", "to": "herbs",
                    "localKey": "herbSlugs", "foreignKey": "slug",
                },
            },
            "index": ["title", "servings"],
        },
    }
}

POSTS_CONFIG = {
    "pattern": "posts/*.md",
    "type": "markdown",
    "schema": {
        "type": "object",
        "properties": {
            "title": {"type": "string"},
            "date": {"type": "string"},
            "views": {"type": "integer"},
        },
        "required": ["title", "date"],
    },
    "index": ["date", "views"],
}


def config(kind: str) -> dict:
    """The "pages" config (queries) has herbs, families and recipes with all
    three relation kinds.  The "refresh" config (index build and refresh)
    has herbs (relation dropped, its key indexed as a plain field) and
    posts: every build and refresh costs per-source Spark jobs, so fewer
    sources keep one round of edits short."""
    cfg = json.loads(json.dumps(CONFIG))
    if kind == "pages":
        return cfg
    herbs = cfg["sources"]["herbs"]
    herbs.pop("relations")
    herbs["index"] = herbs["index"] + ["familySlug"]
    return {"sources": {"herbs": herbs, "posts": json.loads(json.dumps(POSTS_CONFIG))}}


@dataclass
class Corpus:
    """The content tree as written: source -> slug -> record (no ``slug`` key)."""

    root: str
    records: dict[str, dict[str, dict]] = field(default_factory=dict)

    def path(self, source: str, slug: str) -> str:
        ext = {"herbs": ".md", "families": ".yaml", "posts": ".md"}[source]
        return os.path.join(self.root, source, slug + ext)

    def write(self, source: str, slug: str, rec: dict) -> None:
        """Write (or overwrite) one single-record file and remember it."""
        self.records[source][slug] = rec
        text = yaml.safe_dump(rec, allow_unicode=True, sort_keys=True)
        if source == "families":
            body = text
        else:
            body = f"---\n{text}---\nBody of {slug}.\n"
        with open(self.path(source, slug), "w", encoding="utf-8") as f:
            f.write(body)

    def delete(self, source: str, slug: str) -> None:
        del self.records[source][slug]
        os.remove(self.path(source, slug))

    def write_recipes(self) -> None:
        rows = [{"slug": s, **r} for s, r in sorted(self.records["recipes"].items())]
        with open(os.path.join(self.root, "recipes.json"), "w", encoding="utf-8") as f:
            json.dump(rows, f, ensure_ascii=False, indent=1)


def _name(rng: random.Random) -> str:
    return rng.choice(STEMS) + " " + "".join(rng.choice(SYLLABLES) for _ in range(2))


def make_content(root: str, seed: int) -> Corpus:
    rng = random.Random(seed)
    corpus = Corpus(root, {"herbs": {}, "families": {}, "recipes": {}, "posts": {}})
    for d in ("herbs", "families", "posts"):
        os.makedirs(os.path.join(root, d), exist_ok=True)

    fam_slugs = sorted(
        {f"{rng.choice(SYLLABLES)}{rng.choice(SYLLABLES)}aceae-{i:02d}" for i in range(N_FAMILIES)}
    )
    for s in fam_slugs:
        corpus.write("families", s, {"name": _name(rng), "region": rng.choice(["asia", "europe", "americas"])})

    herb_slugs = sorted({f"{rng.choice(SYLLABLES)}{rng.choice(SYLLABLES)}-{i:03d}" for i in range(N_HERBS)})
    for s in herb_slugs:
        rec: dict = {
            # a few empty names: "" must order like a missing value
            "name": "" if rng.random() < 0.04 else _name(rng),
            "tags": sorted(rng.sample(TAGS, rng.randint(0, 3))),
            "familySlug": rng.choice(fam_slugs),
        }
        if rng.random() < 0.85:
            rec["rank"] = rng.randint(1, 150)
        if rng.random() < 0.5:
            rec["note"] = "note " + rng.choice(SYLLABLES)
        corpus.write("herbs", s, rec)

    for i in range(N_RECIPES):
        corpus.records["recipes"][f"recipe-{i:03d}"] = {
            "title": _name(rng),
            # duplicates inside the array key on purpose: attachments dedupe
            "herbSlugs": [rng.choice(herb_slugs) for _ in range(rng.randint(1, 4))],
            "servings": rng.randint(1, 12),
        }
    corpus.write_recipes()

    for i in range(N_POSTS):
        slug = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}-post-{i:03d}"
        corpus.write("posts", slug, post_record(rng, slug))
    return corpus


def post_record(rng: random.Random, slug: str) -> dict:
    return {"title": "Post " + rng.choice(SYLLABLES), "date": slug[:10], "views": rng.randint(1, 9999)}


# ------------------------------------------------------------ near-dup inputs

DIM = 64
WORDS = [f"{a}{b}" for a in SYLLABLES for b in SYLLABLES]  # 100-word vocabulary


@dataclass
class Vectors:
    ids: np.ndarray  # int64
    vecs: np.ndarray  # float32 (n, DIM)
    copies: list[tuple[int, int]]  # planted exact copies (lower id, higher id)


@dataclass
class Docs:
    ids: list[int]
    texts: list[str]
    copies: list[tuple[int, int]]


def make_vectors(seed: int, n: int, n_copies: int, n_queries: int) -> Vectors:
    """Clustered float32 embeddings; the last ``n_copies`` rows copy earlier
    rows exactly (the planted duplicates).  Half of the copied rows lie in
    the query block (ids below ``n_queries``), so top-k must find them."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(16, DIM))
    base = centers[rng.integers(0, 16, size=n)] + 0.6 * rng.normal(size=(n, DIM))
    vecs = base.astype(np.float32)
    half = n_copies // 2
    src = np.concatenate([
        rng.choice(n_queries, size=half, replace=False),
        n_queries + rng.choice(n - n_copies - n_queries, size=n_copies - half, replace=False),
    ])
    copies = []
    for j, s in enumerate(src):
        dst = n - n_copies + j
        vecs[dst] = vecs[s]
        copies.append((int(s), int(dst)))
    return Vectors(np.arange(n, dtype=np.int64), vecs, copies)


def make_docs(seed: int, n: int, n_copies: int, words: int = 60) -> Docs:
    """Word-level documents; the last ``n_copies`` copy earlier ones exactly
    except for case and spacing (normalisation must see through both)."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(WORDS) for _ in range(words)) for _ in range(n - n_copies)]
    copies = []
    for j in range(n_copies):
        s = rng.randrange(n - n_copies)
        texts.append("  " + texts[s].upper().replace(" ", "   ", 3))
        copies.append((s, n - n_copies + j))
    return Docs(list(range(n)), texts, copies)
