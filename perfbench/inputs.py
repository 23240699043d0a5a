"""Seeded input generation for the benchmark's workloads.

Every input is a function of (workload, seed, seconds): the same arguments
give byte-identical files, whose content hash is printed with the run. A
generated set is cached under .work/inputs/<workload>/, keyed by the seed,
the run length and the generators' own source; only the two most recently
used sets of each workload are kept.
"""
import hashlib
import json
import os
import shutil
import zlib

import numpy as np

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
NOISE = [b",", b".", b";", b":", b"!", b"?", b"'s", b"-x", b"(", b")"]
ZIPF_S = 1.07
NOISE_FRAC = 0.10
KEEP_SEEDS = 2


def vocabulary(rng, size):
    """`size` distinct alnum words of 3 to 10 characters, in random order
    (rank 1 is the most frequent word under the Zipf sampler)."""
    words = {}
    while len(words) < size:
        n = (size - len(words)) * 2
        lens = rng.integers(3, 11, size=n)
        buf = LETTERS[rng.integers(0, len(LETTERS), size=int(lens.sum()))].tobytes()
        offs = np.concatenate([[0], np.cumsum(lens)])
        for i in range(n):
            words.setdefault(buf[offs[i]:offs[i + 1]], None)
            if len(words) == size:
                break
    return list(words)


def zipf_cdf(size):
    w = np.arange(1, size + 1, dtype=np.float64) ** -ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


def text_file(rng, vocab, cdf, target_bytes, path):
    """Write Zipf text of about `target_bytes` bytes: lines of 5 to 20
    tokens, NOISE_FRAC of them a word glued to punctuation, which the
    word-count mapper's alnum filter drops. Returns the per-word counts of
    the alnum tokens."""
    counts = np.zeros(len(vocab), dtype=np.int64)
    out = []
    size = 0
    while size < target_bytes:
        # about 7.5 bytes a token: chunks of an eighth of the target keep
        # the file within one chunk of it
        n = max(10_000, min(200_000, target_bytes // 60))
        idx = np.searchsorted(cdf, rng.random(n))
        noise = rng.random(n) < NOISE_FRAC
        counts += np.bincount(idx[~noise], minlength=len(vocab))
        marks = rng.integers(0, len(NOISE), size=n)
        toks = [vocab[i] + NOISE[m] if z else vocab[i]
                for i, z, m in zip(idx.tolist(), noise.tolist(), marks.tolist())]
        per_line = rng.integers(5, 21, size=n // 5 + 1)
        pos = 0
        lines = []
        for k in per_line.tolist():
            if pos >= n:
                break
            lines.append(b" ".join(toks[pos:pos + k]))
            pos += k
        chunk = b"\n".join(lines) + b"\n"
        out.append(chunk)
        size += len(chunk)
    with open(path, "wb") as fh:
        for c in out:
            fh.write(c)
    return counts


def expectation(vocab, counts):
    """The word counts a correct job writes, as order-insensitive digests of
    its `word count` lines (the same digests the JVM runner computes over the
    job's output files)."""
    nz = np.nonzero(counts)[0]
    crcs = [zlib.crc32(vocab[i] + b" " + str(int(counts[i])).encode()) for i in nz.tolist()]
    x = 0
    for c in crcs:
        x ^= c
    return {"distinct": int(len(nz)), "tokens": int(counts.sum()),
            "crc_sum": int(sum(crcs)), "crc_xor": x}


WC = {
    # name: (vocabulary, bytes per file, files per job, reducers, shard size,
    #        clients, jobs per client per second of run, warm-up bytes); a
    #        wc_small job takes 2.5-5 s on 4 cores, and the clients' jobs
    #        run in lockstep waves, so a run holds one sample per wave
    "wc_small": (50_000, 1 << 20, 1, 3, 50_000, os.cpu_count(), 0.25, 1 << 20),
}


def gen_wc(workload, seed, seconds, d):
    vsize, fbytes, per_job, reducers, shard, clients, rate, warm_bytes = WC[workload]
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, vsize)
    cdf = zipf_cdf(vsize)
    per_client = max(2, round(seconds * rate))
    n_jobs = clients * per_client

    def job(name, n_files, nbytes):
        files, counts = [], np.zeros(vsize, dtype=np.int64)
        for k in range(n_files):
            p = os.path.join(d, f"{name}_{k}.txt")
            counts += text_file(rng, vocab, cdf, nbytes, p)
            files.append(p)
        return {"files": files, "reducer_count": reducers, "shard_size": shard,
                "bytes": sum(os.path.getsize(f) for f in files),
                "expect": expectation(vocab, counts)}, counts

    warm, _ = job("warmup", 1, warm_bytes)
    jobs, total = [], np.zeros(vsize, dtype=np.int64)
    for j in range(n_jobs):
        spec, c = job(f"job{j:03d}", per_job, fbytes)
        jobs.append(spec)
        total += c
    props = {
        "jobs": n_jobs,
        "job_mb": round(jobs[0]["bytes"] / 1e6, 3),
        "files_per_job": per_job,
        "lines_per_job": sum(_lines(f) for f in jobs[0]["files"]),
        "distinct_words_per_job": jobs[0]["expect"]["distinct"],
        "vocabulary": vsize,
        "distinct_words_all_jobs": int(np.count_nonzero(total)),
        "noise_token_share": NOISE_FRAC,
        "zipf_exponent": ZIPF_S,
    }
    return {"wc": {"clients": clients, "jobs_per_client": per_client,
                   "poll_ms": 20, "warmup": warm, "jobs": jobs}}, props


def _lines(path):
    with open(path, "rb") as fh:
        return sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))


def content_hash(d):
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(d):
        dns.sort()
        for f in sorted(fns):
            if f == "manifest.json":
                continue
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()[:16]


def prepare(workload, seed, seconds, root):
    """Generate (or reuse) the inputs of one run; returns the manifest:
    `config` entries for the JVM runner and `properties` to report."""
    import gen_curation
    gens = {"wc_small": gen_wc, "curation_stream": gen_curation.generate}
    h = hashlib.sha256()
    for mod in (__file__, gen_curation.__file__):
        with open(mod, "rb") as fh:
            h.update(fh.read())
    wdir = os.path.join(root, workload)
    d = os.path.join(wdir, f"seed_{seed}_s{seconds:g}_{h.hexdigest()[:12]}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        os.utime(d)
        with open(manifest) as fh:
            return json.load(fh)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    cfg, props = gens[workload](workload, seed, seconds, d)
    props["content_sha256"] = content_hash(d)
    m = {"config": cfg, "properties": props}
    with open(manifest, "w") as fh:
        json.dump(m, fh)
    old = sorted((e for e in os.listdir(wdir) if e != os.path.basename(d)),
                 key=lambda e: os.path.getmtime(os.path.join(wdir, e)))
    for e in old[:max(0, len(old) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(os.path.join(wdir, e), ignore_errors=True)
    return m
