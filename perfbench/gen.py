"""Seeded YouTube `channels().list` responses and the mart they must produce.

Each response has the shape of FIXTURES.md section A.1: one channel item
with snippet, thumbnails, statistics, status, topicDetails and
localizations. The generator keeps the edge cases of the reference
pipeline, whatever the seed:

- channel 0's title contains `-` and `/` (the lake key derivation);
- channel 1 has no `country` (the union's null fill);
- channel 2's `viewCount` is "N/A" (the cast-to-null path);
- every title contains spaces (the `_`-joined table names).

Every field is a pure function of (seed, channel, batch), so
`expected_mart` states the mart rows without reading the JSON back.
"""
import datetime as dt
import json
import random

WORDS = [
    "Nova", "Arcade", "Kitchen", "Cosmic", "Garden", "Pixel", "River",
    "Echo", "Summit", "Lantern", "Orbit", "Maple", "Harbor", "Quartz",
    "Tundra", "Velvet", "Meadow", "Comet", "Falcon", "Prism", "Canyon",
    "Willow", "Ember", "Glacier", "Atlas", "Cobalt", "Delta", "Juniper",
]
COUNTRIES = ["US", "CA", "GB", "IN", "BR", "DE", "JP", "MX", "FR", "KR"]
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def channels(seed, n):
    """`n` channels with unique lake keys and table names."""
    rng = random.Random(f"channels:{seed}")
    out = []
    for k in range(n):
        words = rng.sample(WORDS, 2)
        title = f"{words[0]} {words[1]} {k}"
        if k == 0:
            title += "-Kids/HD"
        published = (dt.datetime(2006, 1, 1, tzinfo=dt.timezone.utc)
                     + dt.timedelta(seconds=rng.randrange(14 * 365 * 86400)))
        out.append({
            "k": k,
            "title": title,
            "handle": f"@{words[0].lower()}{words[1].lower()}{k}",
            "published": published,
            "country": None if k == 1 else rng.choice(COUNTRIES),
            "views0": rng.randrange(10**6, 10**11),
            "views_step": rng.randrange(100, 10**6),
            "subs0": rng.randrange(10**3, 10**8),
            "videos0": rng.randrange(1, 5000),
            "kids": rng.random() < 0.3,
        })
    return out


def counts(c, batch):
    """(viewCount, subscriberCount, videoCount) of channel `c` in `batch`."""
    views = None if c["k"] == 2 else c["views0"] + c["views_step"] * batch
    return views, c["subs0"] + 7 * batch, c["videos0"] + batch // 10


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def response(c, batch):
    """One API response for channel `c` in batch `batch`, as JSON text."""
    views, subs, videos = counts(c, batch)
    k = c["k"]
    snippet = {
        "title": c["title"],
        "description": f"channel {k} description",
        "customUrl": c["handle"],
        "publishedAt": iso(c["published"]),
        "thumbnails": {
            size: {"url": f"https://img.example/{k}/{size}.jpg", "width": w, "height": w}
            for size, w in (("default", 88), ("medium", 240), ("high", 800))
        },
    }
    if c["country"] is not None:
        snippet["country"] = c["country"]
    item = {
        "kind": "youtube#channel",
        "etag": f"item-{k}-{batch}",
        "id": f"UC{k:022d}",
        "snippet": snippet,
        "statistics": {
            "viewCount": "N/A" if views is None else str(views),
            "subscriberCount": str(subs),
            "hiddenSubscriberCount": False,
            "videoCount": str(videos),
        },
        "status": {
            "privacyStatus": "public",
            "isLinked": True,
            "longUploadsStatus": "longUploadsUnspecified",
            "madeForKids": c["kids"],
        },
        "topicDetails": {
            "topicIds": [f"/m/topic{k}"],
            "topicCategories": [f"https://en.wikipedia.org/wiki/Cat{k}"],
        },
        "localizations": {"en": {"title": "LOCALIZED MUST NOT WIN", "description": "loc"}},
    }
    return json.dumps({"kind": "youtube#channelListResponse",
                       "etag": f"resp-{k}-{batch}", "items": [item]})


def batch_times(seed, n, step_s):
    """`n` batch tags `step_s` apart from a seeded start, in epoch ms."""
    start = 1767225600 + random.Random(f"start:{seed}").randrange(365) * 86400
    return [(start + b * step_s) * 1000 for b in range(n)]


def batches(seed, chans, n, step_s):
    """[(ts_ms, [response per channel])] for `n` batches."""
    return [(ts, [response(c, b) for c in chans])
            for b, ts in enumerate(batch_times(seed, n, step_s))]


def micros(t):
    return int((t - EPOCH).total_seconds()) * 1_000_000


def expected_mart(seed, chans, n, step_s):
    """Sorted mart rows, in `MART_COLUMNS` order, after `n` batches."""
    rows = []
    for b, ts in enumerate(batch_times(seed, n, step_s)):
        for c in chans:
            views, subs, videos = counts(c, b)
            rows.append((c["title"], c["handle"], micros(c["published"]),
                         f"https://img.example/{c['k']}/default.jpg", c["country"],
                         views, subs, videos, c["kids"], ts * 1000))
    return sorted(rows, key=repr)


MART_COLUMNS = ["title", "customUrl", "PublishedAt", "url_", "Country", "view_count",
                "subscriberCount", "videoCount", "madeForKids", "timestamp"]
