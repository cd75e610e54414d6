"""Seeded benchmark inputs with planted ground truth.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical rows on every machine. Each generator returns the corpus
rows (``nise_dedup.corpus.CorpusRow``; ``gt_cluster`` > 0 marks a planted
duplicate class, -1 a negative) and :func:`fingerprint` gives the sha256
that the benchmark records for the generated input.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np

from nise_dedup import corpus as C

# Reserved ground-truth cluster ids, far above any id the corpus
# generator hands out.
STUB_CLUSTER = 1 << 41
LARGE_BASE = 1 << 42

HOTBUCKET_BASE = 500        # leading rows of the generator's mixed corpus
HOTBUCKET_STUBS = 300       # near-copies: > bucket_cap (256) share a bucket
HOTBUCKET_VARIANTS = 3      # edited stubs: the deep-verify residue
LARGEFILES_N = 600
LARGEFILES_MEAN_BYTES = 18_000
LARGEFILES_DUP_SHARE = 0.05


def _stub_template(rng: random.Random) -> list[str]:
    """A ~600-byte generated-code stub. Every stub of one input shares it."""
    name = C._ident(rng)
    lines = ["# auto-generated client stub -- do not edit",
             "from __future__ import annotations", "",
             "import json", "import urllib.request", "",
             f"BASE_URL = \"https://api.example.com/v1/{name}\"", "",
             f"class {name.title().replace('_', '')}Client:",
             "    def __init__(self, token: str) -> None:",
             "        self.token = token",
             "        self.timeout = 30", "",
             "    def get(self, item_id: int) -> dict:",
             "        req = urllib.request.Request(f\"{BASE_URL}/{item_id}\")",
             "        req.add_header(\"Authorization\", self.token)",
             "        with urllib.request.urlopen(req) as r:",
             "            return json.loads(r.read())", ""]
    return lines


def hotbucket(seed: int) -> list[C.CorpusRow]:
    """A slice of the mixed corpus plus a family of distinct generated
    stubs.

    HOTBUCKET_STUBS stubs differ from the shared template only in a build
    number: they agree on almost every LSH band, so their buckets overflow
    ``bucket_cap`` and salt, and their pairs pass on the sketches.
    HOTBUCKET_VARIANTS stubs also have one line replaced, which puts their
    pairs near Jaccard 0.8: above the pass threshold but below the sketch
    fast-pass, so every such pair goes to deep verification.
    """
    rows = C.generate("small", seed)[:HOTBUCKET_BASE]
    rng = random.Random(seed ^ 0x5EED)
    template = _stub_template(rng)
    seen: set[str] = set()
    while len(seen) < HOTBUCKET_STUBS + HOTBUCKET_VARIANTS:
        lines = list(template)
        lines[11] = f"        self.build = {rng.randrange(10**6)}"
        if len(seen) >= HOTBUCKET_STUBS:
            lines[rng.choice((6, 12))] = (
                f"    API_VERSION = \"{rng.randrange(100)}."
                f"{rng.randrange(1000)}.{rng.randrange(10**6)}\"")
        content = "\n".join(lines) + "\n"
        if content in seen:
            continue
        seen.add(content)
        n = len(seen)
        rows.append(C.CorpusRow(
            f"stubs{n % 37}", f"gen/client_{n}.py",
            "%040x" % rng.getrandbits(160), "py", content, STUB_CLUSTER,
            "stub"))
    return rows


def _edit(rng: random.Random, text: str) -> str:
    """A near-duplicate: ~2% of lines deleted, replaced or inserted."""
    lines = text.split("\n")
    for _ in range(max(1, len(lines) // 50)):
        i = rng.randrange(len(lines))
        op = rng.randrange(3)
        if op == 0 and len(lines) > 5:
            del lines[i]
        elif op == 1:
            lines[i] = f"    # revised {rng.randrange(10**6)}"
        else:
            lines.insert(i, f"    log_{rng.randrange(10**6)} = None")
    return "\n".join(lines)


_LINE_FORMS = ("    v{0} = w{1} + {2}",
               "    if v{0} > {2}: w{1} = v{0} * 3",
               "    v{0}.append(w{1}[{2}])",
               "    # note {0} on w{1} and {2}")


def _large_body(rng: np.random.Generator, n_bytes: float) -> str:
    """~n_bytes of seeded statements over a large identifier space, so
    independently generated files share almost no shingles."""
    n = max(8, int(n_bytes / 39))   # ~39 bytes per line
    forms = rng.integers(0, len(_LINE_FORMS), n)
    args = rng.integers(0, 10**6, (n, 3))
    return "\n".join(_LINE_FORMS[f].format(*a)
                     for f, a in zip(forms.tolist(), args.tolist())) + "\n"


def largefiles(seed: int) -> list[C.CorpusRow]:
    """LARGEFILES_N mostly distinct files of ~18 KB mean (log-normal
    sizes); LARGEFILES_DUP_SHARE of the rows are edited near-duplicate
    copies of another file (the planted truth)."""
    rng = random.Random(seed ^ 0x1A26E)
    nrng = np.random.default_rng(seed)
    rows: list[C.CorpusRow] = []
    n_dup = int(LARGEFILES_N * LARGEFILES_DUP_SHARE)
    while len(rows) < LARGEFILES_N - n_dup:
        size = rng.lognormvariate(0, 0.35) * LARGEFILES_MEAN_BYTES * 0.94
        lang = rng.choice(C.LANGS)
        rows.append(C.CorpusRow(
            f"repo{rng.randrange(40)}", f"src/big/file_{len(rows)}.{lang}",
            "%040x" % rng.getrandbits(160), lang, _large_body(nrng, size),
            -1, "unique"))
    for _ in range(n_dup):
        src = rows[rng.randrange(LARGEFILES_N - n_dup)]
        if src.gt_cluster < 0:
            src.gt_cluster = LARGE_BASE + len(rows)
            src.dup_class = "edit"
        rows.append(C.CorpusRow(
            src.repo, src.path.replace("file_", f"copy{len(rows)}_"),
            "%040x" % rng.getrandbits(160), src.lang,
            _edit(rng, src.content), src.gt_cluster, "edit"))
    return rows


GENERATORS = {"hotbucket": hotbucket, "largefiles_ckpt": largefiles}


def largest_bucket(rows: list[C.CorpusRow], cfg) -> int:
    """Members of the fullest (band, key) LSH bucket over the distinct
    contents of ``rows``, computed with the signature stage's kernels.
    Above ``cfg.bucket_cap`` the candidate stage salts that bucket."""
    from collections import Counter

    from nise_dedup import hashing as H

    raws = [H.normalize_text(c, cfg.normalize).encode("utf-8")
            for c in sorted({r.content for r in rows})]
    values, starts = H.shingle_sets_batch(raws, cfg.shingle_k)
    mh = H.minhash_oph_batch(values, starts, cfg.num_perm, cfg.seed)
    keys = H.band_keys_batch(mh, cfg.bands, cfg.rows, cfg.seed)
    return max(Counter((b, int(k)) for row in keys
                       for b, k in enumerate(row)).values())


def fingerprint(rows: list[C.CorpusRow]) -> str:
    """sha256 over every generated row and its ground-truth label."""
    h = hashlib.sha256()
    for r in rows:
        for v in (r.repo, r.path, r.commit, r.lang, r.content,
                  str(r.gt_cluster), r.dup_class):
            h.update(v.encode("utf-8"))
            h.update(b"\0")
    return h.hexdigest()
