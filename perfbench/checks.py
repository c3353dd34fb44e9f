"""Output checks against computations made apart from the program.

The reference side is rebuilt here from the raw pages with the pinned
oracle modules (``oracle/extractor``, ``oracle/chunker``,
``oracle/embedder``, ``oracle/scorer``) and ``tokenize_py``; the program's
side is read from its committed tables with pyarrow or taken from the
answers it served.
"""

from __future__ import annotations

import os
import random
from typing import Dict, List, Optional, Sequence

import pyarrow.dataset as pads

from chavinha_mini_search_engine_spark.oracle.chunker import chunk_document
from chavinha_mini_search_engine_spark.oracle.embedder import (
    EMBED_TRUNCATE,
    embed_text,
)
from chavinha_mini_search_engine_spark.oracle.extractor import extract_page
from chavinha_mini_search_engine_spark.oracle.scorer import OracleIndex

SCORE_TOL = 5e-7  # "agrees to 6 decimal places"


def oracle_docs(pages: Sequence[Dict], embed: bool = True) -> List[Dict]:
    """Full docs + chunks of the ``en`` pages, as ``OracleIndex`` rows.
    ``embed=False`` leaves embeddings out, as the delta path stores none."""
    docs = []
    for p in pages:
        if p["lang"] != "en":
            continue
        r = extract_page(p["html"], p["url"])
        d = {"id": r["id"], "url": p["url"], "title": r["title"],
             "content": r["content"], "description": "",
             "doc_type": "full_doc"}
        # the build embeds concat_ws(" ", title, content, description)
        d["embedding"] = (embed_text(f"{r['title']} {r['content']} "[:EMBED_TRUNCATE])
                          if embed else None)
        docs.append(d)
        for c in chunk_document(d):
            c["embedding"] = (embed_text(c["chunk_content"][:EMBED_TRUNCATE])
                              if embed else None)
            docs.append(c)
    return docs


class BaseStatsOracle(OracleIndex):
    """Oracle over base + delta docs that scores with the BASE corpus
    statistics and matches a (field, term) only when the base dictionary
    holds it -- what delta segments do (they keep the base statistics and
    dictionary until a compaction)."""

    def __init__(self, docs, base_docs):
        super().__init__(docs)
        self.stats = OracleIndex(base_docs).stats

    def _matches(self, doc_i, terms, fields):
        toks = self.tokens[doc_i]
        return any(t in toks[f] and self.stats[f]["df"].get(t)
                   for f in fields for t in terms)


def _norm(pairs):
    return sorted(((i, float(s)) for i, s in pairs),
                  key=lambda t: (-round(t[1], 9), t[0]))


def topk_mismatch(oracle: OracleIndex, query: str, search_type: str,
                  k: int, got) -> Optional[str]:
    """None when ``got`` [(id, score)] equals the oracle's top-k."""
    exp = _norm((h["doc_id"], h["score"])
                for h in oracle.search(query, search_type, k))
    g = _norm(got)
    if [x[0] for x in g] != [x[0] for x in exp]:
        return f"{search_type} {query!r}: ids {g[:3]}... != {exp[:3]}..."
    for (gid, gs), (_, es) in zip(g, exp):
        if abs(gs - es) > SCORE_TOL:
            return f"{search_type} {query!r}: {gid} score {gs} != {es}"
    return None


def _read(path: str, columns, part_dirs=None):
    if part_dirs is None:
        ds = pads.dataset(path, format="parquet", partitioning="hive")
    else:
        ds = pads.dataset([
            pads.dataset(os.path.join(path, p), format="parquet",
                         partitioning="hive") for p in part_dirs])
    return ds.to_table(columns=columns)


def extraction_mismatches(pages: Sequence[Dict], table_dir: str,
                          seed: int, n: int = 25, part_dirs=None) -> List[str]:
    """Sampled en urls whose stored content differs from the oracle
    extractor's, byte for byte (or is missing)."""
    en = [p for p in pages if p["lang"] == "en"]
    picked = sample(en, n, seed, "extract")
    t = _read(table_dir, ["url", "content", "doc_type"], part_dirs)
    stored = {u: c for u, c, dt in zip(t.column("url").to_pylist(),
                                       t.column("content").to_pylist(),
                                       t.column("doc_type").to_pylist())
              if dt == "full_doc"}
    return [p["url"] for p in picked
            if stored.get(p["url"]) != extract_page(p["html"], p["url"])["content"]]


def df_mismatches(store_root: str, reference: OracleIndex, terms: Sequence[str],
                  fields=("title", "content", "chunk_content")) -> List[str]:
    """(field, term) whose term_dict df differs from the oracle's count."""
    t = _read(os.path.join(store_root, "term_dict"), ["field", "term", "df"])
    got = {(f, w): d for f, w, d in zip(t.column("field").to_pylist(),
                                        t.column("term").to_pylist(),
                                        t.column("df").to_pylist())}
    bad = []
    for f in fields:
        exp = reference.stats[f]["df"]
        for w in terms:
            if got.get((f, w), 0) != exp.get(w, 0):
                bad.append(f"{f}:{w} {got.get((f, w), 0)} != {exp.get(w, 0)}")
    return bad


def id_multiplicity_errors(store_root: str, delta_parts: Sequence[str],
                           ids: Sequence[str]) -> List[str]:
    """Streamed full-doc ids not present exactly once across the base
    doc store and the committed delta segments."""
    from collections import Counter

    seen = Counter()
    for path, parts in ((os.path.join(store_root, "unified"), None),
                        (os.path.join(store_root, "unified_delta"),
                         list(delta_parts))):
        t = _read(path, ["id", "doc_type"], parts)
        seen.update(i for i, dt in zip(t.column("id").to_pylist(),
                                       t.column("doc_type").to_pylist())
                    if dt == "full_doc")
    return [i for i in ids if seen[i] != 1]


def sample(items: Sequence, n: int, seed: int, tag: str) -> list:
    """Up to ``n`` of ``items``, the same for the same (seed, tag)."""
    return random.Random(f"{tag}/{seed}").sample(list(items),
                                                 min(n, len(items)))

