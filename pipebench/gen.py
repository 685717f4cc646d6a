"""Seeded input generator for the pipeline benchmark.

Every input the program reads is made here from a seed: the same seed and
size give byte-identical files (numpy's PCG64 stream, fixed JSON and
parquet writers), and `digest()` hashes them so a result records exactly
which bytes it ran on.

Two input shapes:

* tickets (workload `topics`): a Zendesk-shaped
  `tickets.json` array plus one `comments/<id>_comments.json` file per
  ticket, the reference layout the program's `Tickets` ingest reads.
  Each ticket draws its words from one planted topic vocabulary mixed
  into a Zipf background; bodies use CRLF line ends, carry noise lines
  (punctuation-only, e-mail and IPv4 contact lines), numeric HTML
  entities and one md5-hex PII token per ticket.
* documents (workload `dedup`): `documents.parquet` with (doc_id, text).
  About half the documents sit in planted near-duplicate chains of length
  2..24, each step replacing ~4 % of the tokens; the rest are singletons.

`manifest.json` beside the inputs holds what the benchmark's checks need
(generated counts, planted PII tokens, planted pairs whose 3-shingle
Jaccard is >= 0.5). The program never reads it.
"""

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np

GEN_VERSION = 1

# Sizes per workload: `main` is the timed input (and the self-test's),
# `warm` the small input of the set-up's first, cold warm-up pass.
SIZES = {
    "topics": {
        "main": dict(tickets=400, comments=5, lines=3, words=16),
        "warm": dict(tickets=60, comments=5, lines=3, words=16),
    },
    "dedup": {
        "main": dict(docs=6000, tokens=120),
        "warm": dict(docs=1000, tokens=120),
    },
}

N_TOPICS = 5
TOPIC_WORDS = 40
BACKGROUND_WORDS = 12000
TOPIC_SHARE = 0.3
DEDUP_VOCAB = 1000
DEDUP_MUTATION = 0.04
# `Similarity.ngramJaccardPairs` drops shingles shared by more than 20
# documents (its documented stop-shingle cap)
KERNEL_DF_CAP = 20
STATUSES = ["open", "hold", "pending", "solved", "closed"]
CONSONANTS = list("bcdfgklmnprtvz")
VOWELS = list("aeiou")
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _words(count, rng, taken):
    """`count` distinct lowercase consonant-vowel words of 3-4 syllables.

    They end in a vowel, so none of the program's lemma suffix rules
    (-s, -ed, -ing, -ly, ...) rewrite them, and none is an English
    stopword."""
    out = []
    while len(out) < count:
        n = int(rng.integers(3, 5))
        w = "".join(CONSONANTS[int(rng.integers(len(CONSONANTS)))]
                    + VOWELS[int(rng.integers(len(VOWELS)))] for _ in range(n))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _vocabulary():
    rng = np.random.default_rng(7)  # fixed: the vocabulary is not seeded
    taken = set()
    topics = [_words(TOPIC_WORDS, rng, taken) for _ in range(N_TOPICS)]
    background = _words(BACKGROUND_WORDS, rng, taken)
    dedup = _words(DEDUP_VOCAB, rng, taken)
    return topics, background, dedup


def _iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _entity(word, rng):
    """Write one letter of `word` as a numeric HTML entity, which the
    program's cleanse decodes back to the letter."""
    i = int(rng.integers(len(word)))
    return word[:i] + "&#%d;" % ord(word[i]) + word[i + 1:]


class _TicketText:
    def __init__(self, rng, topics, background):
        self.rng = rng
        self.topics = [np.array(t) for t in topics]
        self.background = np.array(background)
        ranks = np.arange(1, len(background) + 1, dtype=np.float64)
        p = 1.0 / ranks
        self.cdf = np.cumsum(p / p.sum())

    def words(self, topic, n):
        rng = self.rng
        from_topic = rng.random(n) < TOPIC_SHARE
        bg = self.background[np.minimum(
            np.searchsorted(self.cdf, rng.random(n)), len(self.background) - 1)]
        tw = self.topics[topic][rng.integers(0, TOPIC_WORDS, n)]
        return np.where(from_topic, tw, bg).tolist()

    def line(self, topic, n):
        ws = self.words(topic, n)
        if self.rng.random() < 0.15:
            j = int(self.rng.integers(n))
            ws[j] = _entity(ws[j], self.rng)
        return " ".join(ws)


def _gen_tickets(out, seed, size):
    rng = np.random.default_rng([seed, 1])
    topics, background, _ = _vocabulary()
    text = _TicketText(rng, topics, background)
    n, per, lines, words = (size["tickets"], size["comments"], size["lines"],
                            size["words"])
    os.makedirs(os.path.join(out, "comments"))
    ids = (100000 + rng.permutation(n * 3)[:n]).tolist()
    comment_ids = (1000000 + rng.permutation(n * per * 3)[:n * per]).tolist()
    pii = []
    tickets = []
    for t, tid in enumerate(ids):
        topic = int(rng.integers(N_TOPICS))
        created = EPOCH + timedelta(minutes=int(rng.integers(0, 500000)))
        md5tok = hashlib.md5(("%d-%d" % (seed, tid)).encode()).hexdigest()
        email = "user%d@example.com" % tid
        ip = "10.%d.%d.%d" % (tid % 250, (tid // 250) % 250, t % 250)
        pii += [md5tok, email, ip]
        desc = "\r\n".join([text.line(topic, words),
                            "reach me at %s or %s" % (email, ip),
                            text.line(topic, words)])
        ticket = {
            "id": tid,
            "created_at": _iso(created),
            "updated_at": _iso(created + timedelta(hours=int(rng.integers(1, 400)))),
            "status": STATUSES[int(rng.integers(len(STATUSES)))],
            "subject": " ".join(text.words(topic, 5)) + " #%d" % tid,
            "description": desc,
            "fields": [{"id": 1, "value": ["incident", "question", "task"][t % 3]},
                       {"id": 2, "value": "ignored-by-reference"},
                       {"id": 3, "value": "resolved-%d" % (t % 4)}],
        }
        if rng.random() < 0.8:
            ticket["tags"] = ["tag%d" % int(x) for x in rng.integers(0, 30, 2)]
        tickets.append(ticket)
        comments = []
        at = created
        for c in range(per):
            # a tenth of the comments share the previous timestamp, so the
            # bound order has to fall back to the comment id
            if c == 0 or rng.random() >= 0.1:
                at = at + timedelta(minutes=int(rng.integers(1, 600)))
            body = [text.line(topic, words) for _ in range(lines)]
            if c == 0:
                body.insert(1, "please check %s %s" % (
                    " ".join(text.words(topic, 3)), md5tok))
            if rng.random() < 0.3:
                body.insert(int(rng.integers(len(body) + 1)), "---!!---")
            comments.append({"id": comment_ids[t * per + c],
                             "created_at": _iso(at),
                             "plain_body": "\r\n".join(body)})
        order = rng.permutation(per).tolist()  # file order is not id order
        split = per // 2
        doc = {"comments": [comments[i] for i in order[:split]],
               "internal_notes": [comments[i] for i in order[split:]]}
        with open(os.path.join(out, "comments", "%d_comments.json" % tid), "w") as f:
            json.dump(doc, f)
    with open(os.path.join(out, "tickets.json"), "w") as f:
        json.dump(tickets, f)
    return {"tickets": n, "comments": n * per, "comment_files": n,
            "pii": pii}


def _shingles(tokens):
    return {(tokens[i], tokens[i + 1], tokens[i + 2])
            for i in range(len(tokens) - 2)}


def _planted_j50(docs, planted, ids):
    """Planted pairs whose 3-shingle Jaccard is >= 0.5, twice: over all
    shingles (the true Jaccard), and as the program's n-gram kernel
    defines it, where shingles shared by more than KERNEL_DF_CAP documents
    are stop-shingles that count in neither the intersection nor, through
    it, the union."""
    sh = [_shingles(d) for d in docs]
    df = {}
    for s in sh:
        for x in s:
            df[x] = df.get(x, 0) + 1
    true, kernel = [], []
    for a, b in planted:
        common = sh[a] & sh[b]
        inter = len(common)
        capped = sum(1 for x in common if df[x] <= KERNEL_DF_CAP)
        pair = [int(ids[a]), int(ids[b])]
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.5:
            true.append(pair)
        if round(capped / (len(sh[a]) + len(sh[b]) - capped), 6) >= 0.5:
            kernel.append(pair)
    return true, kernel


def _gen_documents(out, seed, size):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed, 2])
    _, _, vocab = _vocabulary()
    vocab = np.array(vocab)
    n, ntok = size["docs"], size["tokens"]
    docs = []
    planted = []
    chains = 0
    length = 2
    while len(docs) < n // 2:
        # chain lengths cycle 2..24 so every seed plants the same shapes
        k = min(length, n // 2 - len(docs))
        cur = vocab[rng.integers(0, len(vocab), ntok)]
        start = len(docs)
        docs.append(cur)
        for _ in range(k - 1):
            nxt = cur.copy()
            hit = rng.random(ntok) < DEDUP_MUTATION
            nxt[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
            docs.append(nxt)
            cur = nxt
        for i in range(start, len(docs) - 1):
            planted.append((i, i + 1))
        chains += 1
        length = 2 if length == 24 else length + 1
    while len(docs) < n:
        docs.append(vocab[rng.integers(0, len(vocab), ntok)])
    ids = (rng.permutation(n * 4)[:n] + 1).astype(np.int64)
    true_j50, kernel_j50 = _planted_j50([d.tolist() for d in docs], planted, ids)
    order = rng.permutation(n)  # row order is not chain order
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([" ".join(docs[i].tolist()) for i in order], pa.string()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"),
                   compression="snappy", row_group_size=n)
    return {"docs": n, "chains": chains, "planted_pairs": len(planted),
            "planted_true_j50": true_j50, "planted_kernel_j50": kernel_j50}


def generate(workload, seed, kind, out):
    """Make the `kind` input of `workload` for `seed` in `out` (replaced)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    size = SIZES[workload][kind]
    if workload == "dedup":
        manifest = _gen_documents(out, seed, size)
    else:
        manifest = _gen_tickets(out, seed, size)
    manifest.update(workload=workload, seed=seed, kind=kind, size=size,
                    gen_version=GEN_VERSION)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def digest(path):
    """sha256 over every file under `path`: relative name and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()
