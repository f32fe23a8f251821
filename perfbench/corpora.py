"""Seeded benchmark inputs, cached on disk by (workload, seed, size).

Each input directory holds the pages table the pipeline reads, the planted
ground truth and the oracle's true duplicate pairs, so a second run with the
same seed reads them back instead of regenerating:

  <cache>/<workload>-s<seed>-n<size>/pages.parquet  url, warc_ts, html, text, lang
                                    /truth.parquet  url, family_id, kind
                                    /pairs.parquet  url1, url2, true_jaccard
                                    /gen.json       generation and oracle seconds

Generation and oracle time are reported by the caller but never counted in
set-up or run time.
"""

from __future__ import annotations

import html as _html
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fuzzy_dedupe_pipeline_spark import oracle, synth

# small row groups: one row group would put every row in one Spark partition
ROW_GROUP = 64


def crawl_batch(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The package's crawl mix: 20% exact, 20% near, 10% substring, 5%
    boilerplate-only overlap, the rest unique."""
    corpus = synth.generate_pages(n_docs=n_docs, seed=seed)
    return corpus.pages, corpus.truth


# The templated-skew tokens come from these two helpers rather than synth's
# private ones, so a change to the package's generator cannot move this
# workload's inputs.
def _words(rng: np.random.Generator, n: int) -> list[str]:
    """Zipf-headed token draw over a 30k vocabulary, lower-case and
    unpunctuated so templates survive normalization verbatim."""
    idx = np.floor((30000**0.7 * rng.random(n) + 1) ** (1 / 0.7)).astype(np.int64)
    return [f"w{i}" for i in np.clip(idx, 0, 29999)]


def _edit(rng: np.random.Generator, toks: list[str], rate: float) -> list[str]:
    """Token replace/insert/delete at roughly `rate`."""
    out: list[str] = []
    for t, r in zip(toks, rng.random(len(toks))):
        if r < rate / 3:
            continue
        if r < 2 * rate / 3:
            out.append(f"w{rng.integers(0, 30000)}")
            continue
        out.append(t)
        if r < rate:
            out.append(f"w{rng.integers(0, 30000)}")
    return out


def templated_skew(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Template-heavy hosts plus dense low-edit near-dup families.

    - 25% of docs share one 300-token template followed by a distinct
      40-80-token body. The template dominates their shingles, so about half
      of them land in one bucket of every template-only MinHash band, and
      every template gram puts all of them in one bucket: the buckets the
      skew cap (`max_band_bucket`) must drop. Two such docs share a verbatim
      run far longer than the substring pass needs, so they form one planted
      family, but their shingle Jaccard stays below 0.8, so none of their
      pairs is a true pair.
    - 60% of docs form families of 32 members, each a 0.1%-1% token edit
      of one 200-400-token base: every pair is a true duplicate, so the
      verified edge count grows with the square of the family size.
    - the rest are unique.
    """
    rng = np.random.default_rng(seed)
    n_tpl = int(n_docs * 0.25)
    fam_size = 32
    n_fam = int(n_docs * 0.60) // fam_size
    n_unique = n_docs - n_tpl - n_fam * fam_size

    template = _words(rng, 300)
    texts: list[str] = []
    kinds: list[str] = []
    families: list[int] = []
    for _ in range(n_tpl):
        texts.append(" ".join(template + _words(rng, int(rng.integers(40, 81)))))
        kinds.append("template")
        families.append(n_fam)
    for f in range(n_fam):
        base = _words(rng, int(rng.integers(200, 401)))
        for _ in range(fam_size):
            rate = float(10 ** rng.uniform(-3, -2))
            texts.append(" ".join(_edit(rng, base, rate)))
            kinds.append("near")
            families.append(f)
    for _ in range(n_unique):
        texts.append(" ".join(_words(rng, int(rng.integers(120, 600)))))
        kinds.append("unique")
        families.append(-1)

    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    families = [families[i] for i in order]
    n = len(texts)
    urls = [f"https://host{i % 7}.example/t/{i}" for i in range(n)]
    pages = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(
                1_700_000_000 + np.arange(n) * 37, unit="s"
            ).astype("datetime64[us]"),
            "html": [
                (synth.HTML_PREFIX + _html.escape(t) + synth.HTML_SUFFIX).encode()
                for t in texts
            ],
            "text": texts,
            "lang": "en",
        }
    )
    truth = pd.DataFrame({"url": urls, "family_id": families, "kind": kinds})
    return pages, truth


GENERATORS = {"crawl-batch": crawl_batch, "templated-skew": templated_skew}


def load(cache_root: str, workload: str, seed: int, n_docs: int) -> dict:
    """Generate (or reuse) the input of one (workload, seed, size).

    Returns paths plus the truth, true pairs and generation timings."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-n{n_docs}")
    meta_path = os.path.join(d, "gen.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        pages, truth = GENERATORS[workload](n_docs, seed)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        pairs = oracle.true_pairs(pages, truth)
        oracle_s = time.perf_counter() - t0
        pq.write_table(
            pa.Table.from_pandas(pages, preserve_index=False),
            os.path.join(tmp, "pages.parquet"),
            row_group_size=ROW_GROUP,
        )
        truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        pairs.to_parquet(os.path.join(tmp, "pairs.parquet"), index=False)
        with open(os.path.join(tmp, "gen.json"), "w") as f:
            json.dump({"gen_s": gen_s, "oracle_s": oracle_s}, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    return {
        "pages": os.path.join(d, "pages.parquet"),
        "truth": pd.read_parquet(os.path.join(d, "truth.parquet")),
        "pairs": pd.read_parquet(os.path.join(d, "pairs.parquet")),
        **meta,
    }


def pair_scores(
    members: pd.DataFrame, truth: pd.DataFrame, pairs: pd.DataFrame
) -> tuple[float, float]:
    """(recall, precision) of a clustering given as (url, cluster_id).

    Recall is against the oracle's true pairs. Precision is the share of
    co-clustered pairs whose two docs come from the same planted family."""
    co = members[["url", "cluster_id"]].merge(
        members[["url", "cluster_id"]], on="cluster_id"
    )
    co = co[co.url_x < co.url_y].rename(columns={"url_x": "url1", "url_y": "url2"})
    recall = oracle.pair_recall(co, pairs)
    fam = truth.set_index("url").family_id
    f1 = fam.reindex(co.url1).to_numpy()
    f2 = fam.reindex(co.url2).to_numpy()
    same = (f1 == f2) & (f1 >= 0)
    precision = float(same.mean()) if len(co) else 1.0
    return recall, precision
