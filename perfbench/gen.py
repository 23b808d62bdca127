"""Seeded workload inputs with planted ground truth.

Standard library only: nothing here imports the package under test, so every
truth below is known independently of the code it checks. The same seed
gives byte-identical inputs; any other seed gives different ones.

Planted properties:

- posts: sentiment label (texts carry only same-polarity lexicon words, no
  negators), platform, country and hashtags (Zipf-skewed, 0-3 per post),
  likes/retweets/followers, event time, and a few percent malformed rows
  (null text, empty text, broken JSON lines, unparseable timestamps);
- window feed: posts whose event times rise from file to file, with late
  posts inside and beyond the watermark, and the window counts they give;
- corpus: language, junk-quality docs, exact duplicates (case/whitespace
  variants), near-duplicates (1-2 word edits, Jaccard >= 0.85) and docs
  that leak a passage of the generated benchmark set.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
from collections import Counter
from datetime import datetime, timedelta

TS_FMT = "%Y-%m-%d %H:%M:%S"

# Lexicon words with a clear sign (|valence| >= 1.5 on the VADER scale).
POS_WORDS = ("love", "great", "amazing", "awesome", "excellent", "happy", "best",
             "fantastic", "wonderful", "perfect", "brilliant", "helpful")
NEG_WORDS = ("terrible", "awful", "bad", "worst", "hate", "horrible", "poor",
             "sad", "broken", "useless", "annoying", "disappointed")
# Neutral filler: no lexicon word, no negator.
FILLER = ("update", "today", "product", "launch", "team", "weather", "coffee",
          "morning", "city", "game", "music", "phone", "movie", "train", "market",
          "photo", "street", "weekend", "office", "release", "match", "dinner",
          "bus", "store", "report", "meeting", "friends", "season", "song", "app",
          "price", "news", "ticket", "park", "river", "garden", "book", "class",
          "event", "story", "travel", "video", "airport", "kitchen", "review")
PLATFORMS = ("twitter", "instagram", "facebook", "reddit", "tiktok", "youtube")
COUNTRIES = ("US", "UK", "IN", "DE", "FR", "BR", "JP", "CA", "AU", "ES", "MX",
             "IT", "NL", "SE", "KR", "AR", "ZA", "NG", "PL", "TR", "ID", "PH",
             "EG", "NO")
N_TAGS = 400
LABELS = ("positive", "negative", "neutral")
MALFORMED = ("null_text", "empty_text", "bad_json", "bad_ts")
DROPPED = ("null_text", "empty_text", "bad_json")  # removed by the P1 filter

BASE_TIME = datetime(2024, 5, 1)
BACKLOG_SPAN_S = 48 * 3600
MALFORMED_FRAC = 0.04
WATERMARK_S = 600  # streaming.pipeline.DEFAULT_WATERMARK
WINDOW_FILE_SPAN_S = 300
LATE_FRAC = 0.05


def _zipf_cum(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


_PLATFORM_CUM = _zipf_cum(len(PLATFORMS), 0.8)
_COUNTRY_CUM = _zipf_cum(len(COUNTRIES), 1.2)
_TAG_CUM = _zipf_cum(N_TAGS, 1.1)


def ordered_counts(counter: Counter, k: int | None = None) -> list[tuple[str, int]]:
    """Counts ordered count desc, then key asc (the panels' tiebreak)."""
    out = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
    return out if k is None else out[:k]


# --------------------------------------------------------------------------
# Posts
# --------------------------------------------------------------------------

def _post(rng: random.Random, user: str, ts: str, malformed: str | None):
    """One post as a JSON line, plus its truth record (None when P1 drops it)."""
    label = rng.choices(LABELS, cum_weights=(40, 65, 100))[0]
    words = [rng.choice(FILLER) for _ in range(rng.randint(3, 36))]
    if label != "neutral":
        pool = POS_WORDS if label == "positive" else NEG_WORDS
        words += [rng.choice(pool) for _ in range(rng.randint(1, 3))]
    tags = sorted({f"tag{rng.choices(range(N_TAGS), cum_weights=_TAG_CUM)[0]}"
                   for _ in range(rng.randint(0, 3))})
    words += [f"#{t}" for t in tags]
    rng.shuffle(words)
    likes = min(int(rng.paretovariate(1.3) * 5) - 5, 100_000)
    rec = {
        "user": user,
        "label": label,
        "platform": rng.choices(PLATFORMS, cum_weights=_PLATFORM_CUM)[0],
        "country": rng.choices(COUNTRIES, cum_weights=_COUNTRY_CUM)[0],
        "tags": tags,
        "likes": likes,
        "retweets": likes // rng.randint(2, 12),
        "followers": min(int(rng.lognormvariate(6.0, 1.6)), 2**31 - 1),
        "ts": ts if malformed != "bad_ts" else None,
    }
    post = {
        "text": " ".join(words),
        "user": user,
        "platform": rec["platform"],
        "user_followers": rec["followers"],
        "likes": likes,
        "retweets": rec["retweets"],
        "location": {"city": f"{rec['country']}-{rng.randint(1, 5)}", "country": rec["country"]},
        "timestamp": ts,
    }
    if malformed == "null_text":
        post["text"] = None
    elif malformed == "empty_text":
        post["text"] = ""
    elif malformed == "bad_ts":
        post["timestamp"] = rng.choice(("yesterday", "2024-13-45 99:99:99", "n/a"))
    line = json.dumps(post, separators=(",", ":"))
    if malformed == "bad_json":
        # cut inside the text value: Spark's JSON reader keeps fields parsed
        # before an error, so the text itself must be what breaks
        line = line[: len('{"text":"') + len(post["text"]) // 2]
    return line, (None if malformed in DROPPED else rec)


def post_batch(seed: int, n: int, user_prefix: str = "u") -> tuple[list[str], list[dict]]:
    """``n`` posts with event times spread over ``BACKLOG_SPAN_S`` seconds
    after ``BASE_TIME``. Returns (JSON lines, truth records of the rows P1
    keeps)."""
    rng = random.Random(f"posts:{seed}:{user_prefix}")
    lines, truths = [], []
    for i in range(n):
        ts = (BASE_TIME + timedelta(seconds=rng.randrange(BACKLOG_SPAN_S))).strftime(TS_FMT)
        bad = rng.choice(MALFORMED) if rng.random() < MALFORMED_FRAC else None
        line, rec = _post(rng, f"{user_prefix}{i:07d}", ts, bad)
        lines.append(line)
        if rec is not None:
            truths.append(rec)
    return lines, truths


def window_feed(seed: int, n_files: int, per_file: int,
                first_late_beyond: int) -> tuple[list[list[str]], dict, int]:
    """Post files whose event times rise from file to file, for a 1-minute
    window count watermarked ``WATERMARK_S`` behind the newest event.

    File ``f`` holds posts timed in ``[T_f, T_f + WINDOW_FILE_SPAN_S)`` with
    ``T_f = BASE_TIME + f * WINDOW_FILE_SPAN_S``, plus a ``LATE_FRAC`` share
    of late posts of two kinds:

    - late inside the watermark: timed in ``[T_f - 8 min, T_f - 1 min)``.
      The watermark when file ``f`` is read is below ``T_f - 10 min``, so
      their window is still open and they are counted;
    - late beyond it (files ``f >= first_late_beyond`` only): timed before
      ``BASE_TIME - 2 min``, so their window ends by ``BASE_TIME - 1 min``.
      They are never counted in a micro-batch that drops late rows against
      a watermark past that. Pass the index of the first file read in such
      a batch.

    Returns (JSON lines per file, counts of the on-time and late-inside
    posts keyed by (window start "YYYY-mm-dd HH:MM", label), number of
    late-beyond posts). No post is malformed.
    """
    rng = random.Random(f"window:{seed}")
    files, counts, beyond = [], Counter(), 0
    for f in range(n_files):
        t_f = BASE_TIME + timedelta(seconds=f * WINDOW_FILE_SPAN_S)
        lines = []
        for i in range(per_file):
            kind = "on_time"
            if rng.random() < LATE_FRAC:
                kind = "beyond" if f >= first_late_beyond and rng.random() < 0.5 else "inside"
            if kind == "beyond":
                ts = BASE_TIME - timedelta(seconds=rng.randrange(120, 3600))
                beyond += 1
            elif kind == "inside":
                ts = t_f - timedelta(seconds=rng.randrange(60, 480))
            else:
                ts = t_f + timedelta(seconds=rng.randrange(WINDOW_FILE_SPAN_S))
            line, rec = _post(rng, f"v{f:03d}-{i:05d}", ts.strftime(TS_FMT), None)
            lines.append(line)
            if kind != "beyond":
                counts[(ts.strftime("%Y-%m-%d %H:%M"), rec["label"])] += 1
        files.append(lines)
    return files, dict(counts), beyond


def write_json_files(lines: list[str], out_dir: str, n_files: int) -> None:
    """Split ``lines`` into ``n_files`` JSON-lines files."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    for f in range(n_files):
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")


def write_ordered_files(files: list[list[str]], out_dir: str) -> None:
    """One JSON-lines file per entry, modification times one second apart in
    list order: the file source reads files oldest first."""
    os.makedirs(out_dir, exist_ok=True)
    now = int(time.time())
    for f, lines in enumerate(files):
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (now - len(files) + f, now - len(files) + f))


def dashboard_truth(truths: list[dict], k: int = 10, last: int = 10) -> dict:
    """Every reference panel, computed from the planted records."""
    n = len(truths)

    def mean(key):
        return round(sum(t[key] for t in truths) / n, 6)

    timed = [t for t in truths if t["ts"] is not None]
    # a post without a parseable timestamp falls back to the refresh's clock,
    # later than every generated time: those rank newest, ties by user desc
    newest = [t["user"] for t in sorted(truths, key=lambda t: (t["ts"] or "~", t["user"]),
                                        reverse=True)[:last]]
    return {
        "total_rows": n,
        "avg_likes": mean("likes"),
        "avg_retweets": mean("retweets"),
        "avg_user_followers": mean("followers"),
        "labels": ordered_counts(Counter(t["label"] for t in truths)),
        "platforms": ordered_counts(Counter(t["platform"] for t in truths)),
        "tags": ordered_counts(Counter(g for t in truths for g in t["tags"]), k),
        "countries": ordered_counts(Counter(t["country"] for t in truths), k),
        "hours": sorted(Counter(t["ts"][:13] for t in timed).items()),
        "clock_rows": n - len(timed),
        "last_users": newest,
        "display_users": newest,
    }


# --------------------------------------------------------------------------
# Corpus
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
LANGS_KEPT = ("en", "es", "de", "fr")
LANGS_DROPPED = ("ja", "ru", "zz")
SOURCES = ("web", "books", "forum", "news", "code")


def _vocab(n: int = 3000) -> list[str]:
    rng = random.Random("vocab")
    cons, vows = "bdfgklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        if w not in STOPWORDS:
            words.add(w)
    return sorted(words)


VOCAB = _vocab()


def _good_tokens(rng: random.Random, n: int) -> list[str]:
    """``n`` tokens, 30 % stopwords, no punctuation: quality score 1.0."""
    n_stop = -(-3 * n // 10)
    toks = [rng.choice(STOPWORDS) for _ in range(n_stop)] + [rng.choice(VOCAB) for _ in range(n - n_stop)]
    rng.shuffle(toks)
    return toks


def tokens(text: str) -> list[str]:
    return re.sub(r"[^a-z0-9\s]", " ", text.lower()).split()


def shingles(text: str, n: int) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - n + 1, 0))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def corpus(seed: int, n_docs: int, n_bench: int = 60) -> dict:
    """Documents (doc_id, lang, source, text), a benchmark set, and the plant
    record: ``dup_of`` (exact dup -> original), ``near_of`` (near-dup ->
    original), ``junk`` and ``leaked`` doc ids."""
    rng = random.Random(f"corpus:{seed}")
    bench = [" ".join(_good_tokens(rng, 40)) for _ in range(n_bench)]
    docs: list[dict] = []
    dup_of: dict[int, int] = {}
    near_of: dict[int, int] = {}
    junk: set[int] = set()
    leaked: set[int] = set()
    originals: list[dict] = []
    for i in range(n_docs):
        r = rng.random()
        lang = rng.choice(LANGS_DROPPED) if rng.random() < 0.1 else rng.choice(LANGS_KEPT)
        doc = {"doc_id": i, "lang": lang, "source": rng.choice(SOURCES)}
        if r < 0.06 and originals:
            src = rng.choice(originals)
            variant = rng.choice(("upper", "spaces", "pad"))
            text = src["text"]
            text = (text.upper() if variant == "upper"
                    else text.replace(" ", "  ") if variant == "spaces" else f"  {text} ")
            doc.update(lang=src["lang"], text=text)
            dup_of[i] = src["doc_id"]
        elif r < 0.14 and originals:
            src = rng.choice(originals)
            toks = src["text"].split()
            for _ in range(rng.randint(1, 2)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            text = " ".join(toks)
            if jaccard(shingles(text, 3), shingles(src["text"], 3)) < 0.85:
                text = src["text"] + " " + rng.choice(VOCAB)  # one-word append
            doc.update(lang=src["lang"], text=text)
            near_of[i] = src["doc_id"]
        elif r < 0.20:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(2, 6))]
            doc["text"] = " ".join(t + rng.choice(("!!!", "$$", "#@", "...")) for t in toks)
            junk.add(i)
        elif r < 0.24:
            passage = rng.choice(bench).split()[:25]
            toks = _good_tokens(rng, rng.randint(30, 50))
            cut = rng.randrange(len(toks))
            doc["text"] = " ".join(toks[:cut] + passage + toks[cut:])
            leaked.add(i)
        else:
            doc["text"] = " ".join(_good_tokens(rng, rng.randint(40, 70)))
            if lang in LANGS_KEPT:
                originals.append(doc)
        docs.append(doc)
    return {"docs": docs, "bench": bench, "dup_of": dup_of, "near_of": near_of,
            "junk": junk, "leaked": leaked}


def exact_survivors(c: dict) -> set[int]:
    """Doc ids that pass language, quality and exact dedup (keep min id)."""
    seen: dict[str, int] = {}
    for d in c["docs"]:
        if d["lang"] not in LANGS_KEPT or d["doc_id"] in c["junk"]:
            continue
        key = " ".join(d["text"].lower().split())
        seen.setdefault(key, d["doc_id"])
    return set(seen.values())


def contaminated(texts: dict[int, str], bench: list[str], n: int = 5, max_frac: float = 0.1) -> set[int]:
    """Ids whose distinct word n-grams overlap the benchmark by > max_frac."""
    bench_grams = set().union(*(shingles(b, n) for b in bench))
    out = set()
    for i, t in texts.items():
        g = shingles(t, n)
        if g and round(len(g & bench_grams) / len(g), 6) > max_frac:
            out.add(i)
    return out
