"""Seeded input corpora and their measured properties.

Both workloads write the same parquet tables ``corpus.generate`` writes
(pages, mentions_true, triples_true, alias_dict); the program reads only
``pages`` and ``alias_dict``. The recrawl corpus also writes
``recrawls.parquet`` (url, original_url) for the benchmark's own checks.
"""

from __future__ import annotations

import os
import random
from datetime import timedelta

import pandas as pd

from mitie_spark import corpus

WORKLOADS = ("pipeline_uniform", "pipeline_recrawl")

# share of recrawl-corpus pages that repeat an earlier page's text
RECRAWL_SHARE = 0.5
# re-crawls pick among this many popular pages with Zipf weights 1/rank
POPULAR_PAGES = 20
# popular pages are normal-length pages: a 200-sentence page drawn as the
# most popular one would make one seed's corpus several times the work of
# another's; long pages still arrive at the generator's 1% as originals
POPULAR_MAX_CHARS = 2000


def _recrawl_pages(n_pages: int, seed: int):
    """→ (page rows, mention rows, triple rows, (url, original_url) rows).

    Page i is, with probability RECRAWL_SHARE once a popular page exists,
    a re-crawl: the text and html of a popular earlier page under a new
    url and warc_ts. Otherwise it is the next ``corpus.make_page`` page."""
    rng = random.Random(f"recrawl:{seed}")
    weights = [1.0 / (r + 1) for r in range(POPULAR_PAGES)]
    popular: list[tuple[dict, list, list]] = []
    pages, ments, trips, recrawls = [], [], [], []
    n_orig = 0
    for i in range(n_pages):
        if popular and rng.random() < RECRAWL_SHARE:
            src, m, t = rng.choices(popular, weights=weights[: len(popular)])[0]
            page = dict(
                src,
                url=f"{src['url']}?recrawl={i}",
                warc_ts=src["warc_ts"] + timedelta(days=1 + i % 300),
            )
            recrawls.append((page["url"], src["url"]))
        else:
            page, m, t = corpus.make_page(seed, n_orig)
            n_orig += 1
            if len(popular) < POPULAR_PAGES and len(page["text"]) < POPULAR_MAX_CHARS:
                popular.append((page, m, t))
        pages.append(page)
        ments.extend((page["url"], *x) for x in m)
        trips.extend((page["url"], *x) for x in t)
    return pages, ments, trips, recrawls


def write_recrawl(out_dir: str, n_pages: int, seed: int) -> None:
    pages, ments, trips, recrawls = _recrawl_pages(n_pages, seed)
    os.makedirs(out_dir, exist_ok=True)
    pdf = pd.DataFrame(pages)
    # same physical layout as corpus.generate: microsecond timestamps,
    # 500-row groups so Spark splits the scan
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{out_dir}/pages.parquet", index=False, row_group_size=500)
    pd.DataFrame(
        ments, columns=["url", "token_start", "token_end", "tag", "surface"]
    ).to_parquet(f"{out_dir}/mentions_true.parquet", index=False)
    pd.DataFrame(trips, columns=["url", "subj", "pred", "obj"]).to_parquet(
        f"{out_dir}/triples_true.parquet", index=False
    )
    pd.DataFrame(
        corpus.build_alias_dict(),
        columns=["alias", "canonical_id", "canonical_name", "tag"],
    ).to_parquet(f"{out_dir}/alias_dict.parquet", index=False)
    pd.DataFrame(recrawls, columns=["url", "original_url"]).to_parquet(
        f"{out_dir}/recrawls.parquet", index=False
    )


def write_corpus(workload: str, out_dir: str, n_pages: int, seed: int) -> None:
    """Write the workload's corpus; the same arguments give the same bytes."""
    if workload == "pipeline_uniform":
        corpus.generate(out_dir, n_pages, seed)
    elif workload == "pipeline_recrawl":
        write_recrawl(out_dir, n_pages, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")


def recrawl_map(corpus_dir: str) -> dict[str, str]:
    path = os.path.join(corpus_dir, "recrawls.parquet")
    if not os.path.exists(path):
        return {}
    df = pd.read_parquet(path)
    return dict(zip(df["url"], df["original_url"]))


def input_properties(corpus_dir: str) -> dict:
    """Properties of the pages table alone (before extraction)."""
    pages = pd.read_parquet(
        os.path.join(corpus_dir, "pages.parquet"), columns=["url", "text", "lang"]
    )
    n = len(pages)
    return {
        "pages": n,
        "distinct_text_share": pages["text"].nunique() / n,
        "recrawl_share": len(recrawl_map(corpus_dir)) / n,
        "en_share": float((pages["lang"] == "en").mean()),
    }


def extraction_properties(kg: pd.DataFrame) -> dict:
    """Properties measured on stage ``kg`` (the pages that pass the
    pipeline's ``lang="en"`` filter)."""
    n_tokens = kg["n_tokens"].astype("int64")
    n_ments = kg["mentions"].map(len)
    median = float(n_tokens.median()) if len(kg) else 0.0
    return {
        "extracted_docs": len(kg),
        "tokens": int(n_tokens.sum()),
        # adjacent detected mentions, both orders (extraction._candidate_pairs)
        "candidate_pairs": int((2 * (n_ments - 1)).clip(lower=0).sum()),
        "long_doc_share": float((n_tokens > 10 * median).mean()) if len(kg) else 0.0,
    }
