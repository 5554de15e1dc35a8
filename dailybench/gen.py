"""Seeded, Tiki-shaped input generator for the daily-batch benchmark.

Writes the four raw feeds the DAGs consume (FIXTURES.md shapes) and
keeps the values it encoded, so the oracle can check the engine's
outputs against what the generator *meant*, not against a re-parse of
the strings it wrote:

- ``raw/ds=<day>/part-0.json``  crawled products as JSON lines: API and
  DOM-string prices ("1.290.000 ₫"), "Đã bán 1.5k" volumes, re-crawled
  duplicates with a later ``_extracted_at``, null-id and unparseable-
  price rows, category_id / category_path / category-URL fallbacks;
- ``trends/ds=<day>/trends.csv``  a wide Google-Trends frame over a
  rolling 30-day window with "<1", blanks, revised recent scores and an
  overlapping second batch;
- ``fx/rates.json``  one USD→VND quote per day with one day missing;
- ``keyword_mapping/part-0.parquet``  leaves ~60% of leaf categories
  without an active keyword.

Pure Python (no Spark), so the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

BASE_DAY = dt.date(2024, 3, 1)
BASE_SEED = 20240301  # the history days are the same for every run seed
FX_FALLBACK_RATE = 25400.0
DUP_RATE = 0.1     # share of crawled products re-crawled later the same day
DIRTY_RATE = 0.5   # share of rows carrying DOM-string fields
JUNK_RATE = 0.02   # extra rows with a null id or no usable price
CHURN = 0.1        # share of the active catalog replaced per day
WINDOW = 30        # trends refetch window, days

ROOTS = {  # _root_category_id pool (config.js:18-24)
    1789: "Điện thoại - Máy tính bảng",
    1846: "Laptop - Máy vi tính",
    8215: "Thiết bị số - Phụ kiện số",
    28670: "Nhà cửa - Đời sống",
    28432: "Làm đẹp - Sức khỏe",
}
KEYWORDS = [
    "iphone", "samsung galaxy", "tai nghe", "laptop", "macbook", "loa bluetooth",
    "noi chien", "may loc khong khi", "son moi", "kem chong nang", "chuot",
    "ban phim", "dong ho thong minh", "may tinh bang", "sac du phong",
    "robot hut bui", "sua rua mat", "man hinh",
]
UNFETCHED_KEYWORDS = ["quat dieu hoa", "may say toc"]  # mapped, never fetched
BRANDS = [
    "Apple", "Samsung", "Xiaomi", "Sony", "JBL", "Lock&Lock", "Sunhouse", "Philips",
    "Logitech", "Anker", "Asus", "Dell", "Lenovo", "Oppo", "Vivo", "Panasonic",
    "Sharp", "L'Oréal", "Innisfree", "La Roche-Posay", "Baseus", "Ugreen",
    "Kangaroo", "Tefal", "Cuckoo", "Huawei", "Realme", "HP", "Acer", "Razer",
]
NOUNS = ["Điện thoại", "Tai nghe", "Loa", "Nồi chiên", "Máy lọc", "Son", "Kem",
         "Chuột", "Bàn phím", "Đồng hồ", "Sạc", "Ốp lưng", "Màn hình", "Quạt"]
SLUG_WORDS = ["dien", "thoai", "may", "tinh", "phu", "kien", "nha", "cua", "doi",
              "song", "lam", "dep", "suc", "khoe", "thiet", "bi", "so", "gia", "dung"]


@dataclass(frozen=True)
class Spec:
    """Size and shape of one workload's inputs."""

    days: int                 # logical days with inputs
    history: int              # leading days generated from BASE_SEED
    products_per_day: int     # distinct products crawled per day
    leaves_per_root: int      # leaf categories under each of the 5 roots
    missing_fx_day: int       # index of the day with no FX quote


@dataclass
class Truth:
    """What the generator encoded — the oracle's ground truth."""

    days: list[str]
    leaves: dict[int, tuple[str, int, str]]           # leaf -> (name, root, slug)
    mapping: dict[int, str]                           # active leaf -> keyword
    products: dict[int, tuple[str, str, int]]         # pid -> (name, brand, leaf)
    kept: dict[str, dict[int, tuple]] = field(default_factory=dict)
    # kept[ds][pid] = (price, original_price, discount, extracted_at iso)
    raw_rows: dict[str, int] = field(default_factory=dict)
    fx: dict[str, float | None] = field(default_factory=dict)
    trends: dict[str, dict[tuple[str, str], tuple[int, bool]]] = field(default_factory=dict)
    # trends[fetch ds][(date, keyword)] = (score, is_partial) after group-max


def day_str(i: int) -> str:
    return (BASE_DAY + dt.timedelta(days=i)).isoformat()


def _slug(rng: random.Random) -> str:
    return "-".join(rng.choice(SLUG_WORDS) for _ in range(rng.randint(2, 4)))


def _vn_thousands(v: int) -> str:
    return f"{v:,}".replace(",", ".")


def _price_text(rng: random.Random, v: int, dirty: bool) -> str:
    if not dirty:
        return str(v)
    return rng.choice([
        _vn_thousands(v) + " ₫",
        _vn_thousands(v) + "đ",
        _vn_thousands(v) + " VND",
        f"  {_vn_thousands(v)} ₫ ",
        f"{v}.0",
    ])


def _volume_text(rng: random.Random, dirty: bool) -> str | None:
    n = rng.randint(0, 5000)
    if not dirty:
        return str(n)
    return rng.choice([
        f"Đã bán {n / 1000:.1f}k", f"Đã bán {n // 1000},5k", "Đã bán 1tr",
        "Đã bán 1.5 triệu", f"Đã bán {_vn_thousands(n * 10)}", f"đã bán {n}", None,
    ])


def _iso(ds: str, second: int) -> str:
    h, rem = divmod(second, 3600)
    m, s = divmod(rem, 60)
    return f"{ds}T{h:02d}:{m:02d}:{s:02d}.{(second * 37) % 1000:03d}Z"


def _catalog(rng: random.Random, spec: Spec) -> tuple:
    leaf_ids = rng.sample(range(2000, 99999), len(ROOTS) * spec.leaves_per_root)
    leaves: dict[int, tuple[str, int, str]] = {}
    for i, leaf in enumerate(leaf_ids):
        root = list(ROOTS)[i % len(ROOTS)]
        leaves[leaf] = (f"{rng.choice(NOUNS)} {i}", root, _slug(rng))
    # ~40% of leaves get an active keyword (two of them never fetched,
    # so 'No Trend Data' shows), a few an inactive one.
    mapping: dict[int, str] = {}
    inactive: dict[int, str] = {}
    pool = UNFETCHED_KEYWORDS + KEYWORDS
    for n, leaf in enumerate(rng.sample(leaf_ids, len(leaf_ids))):
        if n < int(0.4 * len(leaf_ids)):
            mapping[leaf] = pool[n % len(pool)]
        elif n < int(0.45 * len(leaf_ids)):
            inactive[leaf] = rng.choice(KEYWORDS)
    active = int(spec.products_per_day * 1.2)
    shift = max(1, int(active * CHURN))
    n_products = active + shift * spec.days
    pids = rng.sample(range(10_000_000, 99_999_999), n_products)
    products = {
        pid: (f"{rng.choice(NOUNS)} {rng.choice(BRANDS)} {pid % 9973}",
              rng.choice(BRANDS), rng.choice(leaf_ids))
        for pid in pids
    }
    return leaves, mapping, inactive, products, pids, shift, active


def _raw_row(rng, truth: Truth, pid: int | None, ds: str, second: int,
             price: int | None, price_text: str | None, disc: int, orig_text: str | None,
             dirty: bool, page: int) -> dict:
    name, brand, leaf = truth.products.get(pid, ("Ghost", None, next(iter(truth.leaves))))
    cname, root, slug = truth.leaves[leaf]
    url = f"https://tiki.vn/{slug}/c{leaf}"
    shape = rng.randrange(3)  # category via id / via path / via URL only
    return {
        "product_id": pid,
        "sku": str(pid) if pid is not None and rng.random() < 0.8 else None,
        "name": name,
        "url_key": f"p{pid}",
        "product_url": f"https://tiki.vn/p{pid}.html",
        "brand": brand,
        "price": price_text,
        "original_price": orig_text,
        "discount_rate": (rng.choice([f"-{disc}%", f"{disc}%"]) if dirty else str(disc)) if disc else None,
        "rating": round(rng.uniform(0, 5), 1) if rng.random() < 0.9 else None,
        "review_count": str(rng.randint(0, 9000)) if rng.random() < 0.9 else None,
        "quantity_sold": _volume_text(rng, dirty),
        "thumbnail_url": f"https://img.tiki.vn/{pid}.jpg",
        "seller": rng.choice(["TikiTrading", "ShopA", "ShopB", None]),
        "seller_id": rng.randint(1, 500) if rng.random() < 0.9 else None,
        "seller_logo": None,
        "warehouse_id": rng.choice([1, 2, None]),
        "badges": rng.choice([["tiki_now", "freeship"], ["tiki_now"], ["freeship"], [], None]),
        "inventory_status": "available",
        "category_id": leaf if shape == 0 else None,
        "category_name": cname if shape == 0 else None,
        "root_category_id": root if shape == 0 else None,
        "category_depth": 2 if shape == 0 else (0 if shape == 1 else None),
        "category_path": f"{root} > {leaf}" if shape == 0 else (
            f"{root} > {root + 1} > {leaf}" if shape == 1 else rng.choice(["", None])),
        "_extracted_at": _iso(ds, second),
        "_source_page": page,
        "_category_url": url + ("?page=2" if shape == 2 and rng.random() < 0.5 else ""),
        "_category_name": cname,
        "_root_category_id": root,
    }


def _products_day(rng: random.Random, spec: Spec, truth: Truth, ds: str, active: list[int]) -> list[dict]:
    crawled = rng.sample(active, spec.products_per_day)
    rows: list[dict] = []
    kept: dict[int, tuple] = {}
    for pid in crawled:
        dirty = rng.random() < DIRTY_RATE
        price = rng.randint(50, 30_000) * 1000
        disc = rng.choice([0, 0, rng.randint(1, 60)])
        orig = price if disc == 0 else int(round(price * 100 / (100 - disc), -3))
        has_orig = disc and rng.random() < 0.9
        orig_text = _price_text(rng, orig, dirty) if has_orig else None
        t1 = rng.randrange(0, 43_200)
        rows.append(_raw_row(rng, truth, pid, ds, t1, price, _price_text(rng, price, dirty),
                             disc, orig_text, dirty, rng.randint(1, 10)))
        kept[pid] = (price, orig if has_orig else price, disc, rows[-1]["_extracted_at"])
        if rng.random() < DUP_RATE:
            # Re-crawl later the same day: the later row wins (D1); one in
            # ten later rows has no usable price, which drops the product.
            t2 = t1 + rng.randrange(60, 40_000)
            price2 = price + rng.randint(-20, 20) * 1000 or price
            if rng.random() < 0.1:
                rows.append(_raw_row(rng, truth, pid, ds, t2, None,
                                     rng.choice(["Liên hệ", "free", None]), disc, None, dirty, 1))
                del kept[pid]
            else:
                rows.append(_raw_row(rng, truth, pid, ds, t2, price2, _price_text(rng, price2, dirty),
                                     disc, orig_text, dirty, rng.randint(1, 10)))
                kept[pid] = (price2, orig if has_orig else price2, disc, rows[-1]["_extracted_at"])
    for _ in range(int(spec.products_per_day * JUNK_RATE)):
        # Null id with a valid price, or a fresh product with no price.
        if rng.random() < 0.5:
            rows.append(_raw_row(rng, truth, None, ds, rng.randrange(86_400), 100_000,
                                 "100000", 0, None, False, 1))
        else:
            pid = rng.choice(active)
            if pid in kept:
                continue
            rows.append(_raw_row(rng, truth, pid, ds, rng.randrange(86_400), None,
                                 rng.choice(["Liên hệ", "free", "", None]), 0, None, True, 1))
    rng.shuffle(rows)
    truth.kept[ds] = kept
    truth.raw_rows[ds] = len(rows)
    return rows


def _trend_score(seed: int, fetch_i: int, date_i: int, kw: str) -> int:
    base = random.Random(f"{BASE_SEED}:{date_i}:{kw}").randint(0, 100)
    age = fetch_i - date_i
    if age < 3:  # Google revises the most recent days on each refetch
        base = min(100, max(0, base + random.Random(f"{seed}:{fetch_i}:{date_i}:{kw}").randint(-10, 10)))
    return base


def _cell(rng: random.Random, v: int) -> tuple[str, int]:
    """(CSV text, cleaned score): "<1" and blanks both clean to 0."""
    if v <= 1 or rng.random() < 0.05:
        return rng.choice(["<1", "", "0"]), 0
    return str(v), v


def _trends_day(rng: random.Random, seed: int, truth: Truth, i: int) -> str:
    ds = day_str(i)
    header_date = ["date", "Date", ""][i % 3]  # S2 smart date detection
    lines = [",".join([header_date] + [f'"{k}"' for k in KEYWORDS] + ["isPartial"])]
    got: dict[tuple[str, str], tuple[int, bool]] = {}

    def emit(date_i: int, partial: bool, zero_out: bool) -> None:
        d = day_str(date_i)
        cells = []
        for kw in KEYWORDS:
            if zero_out and rng.random() < 0.5:
                text, score = "0", 0  # the other batch's conflicting 0 (A1)
            else:
                text, score = _cell(rng, _trend_score(seed, i, date_i, kw))
            cells.append(text)
            old = got.get((d, kw), (0, False))
            got[(d, kw)] = (max(old[0], score), old[1] or partial)
        lines.append(",".join([d] + cells + ["True" if partial else "False"]))

    for date_i in range(i - WINDOW + 1, i + 1):
        emit(date_i, date_i == i, False)
    for date_i in range(i - 4, i + 1):  # overlapping second batch
        emit(date_i, date_i == i, True)
    truth.trends[ds] = got
    return "\n".join(lines) + "\n"


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def _write_mapping(path: str, mapping: dict[int, str], inactive: dict[int, str], leaves) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(leaf, kw, True) for leaf, kw in mapping.items()] + [
        (leaf, kw, False) for leaf, kw in inactive.items()
    ]
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table({
        "mapping_id": pa.array(range(1, len(rows) + 1), pa.int64()),
        "tiki_category_id": pa.array([r[0] for r in rows], pa.int64()),
        "tiki_category_name": pa.array([leaves[r[0]][0] for r in rows], pa.string()),
        "trend_keyword": pa.array([r[1] for r in rows], pa.string()),
        "is_active": pa.array([r[2] for r in rows], pa.bool_()),
        "created_at": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def generate(out_dir: str, spec: Spec, seed: int, write_days=None) -> Truth:
    """Compute every day of ``spec`` and write the input files of the
    days in ``write_days`` (default: all) under ``out_dir``.  The catalog
    and the first ``spec.history`` days come from BASE_SEED, the later
    days from ``seed``; the truth always covers every day."""
    base_rng, day_rng = random.Random(BASE_SEED), random.Random(seed)
    leaves, mapping, inactive, products, pids, shift, active = _catalog(base_rng, spec)
    truth = Truth(days=[day_str(i) for i in range(spec.days)], leaves=leaves,
                  mapping=mapping, products=products)
    write = set(range(spec.days) if write_days is None else write_days)
    _write_mapping(os.path.join(out_dir, "keyword_mapping"), mapping, inactive, leaves)
    rates = {}
    for i, ds in enumerate(truth.days):
        rng, rng_seed = (base_rng, BASE_SEED) if i < spec.history else (day_rng, seed)
        window = pids[i * shift: i * shift + active]
        rows = _products_day(rng, spec, truth, ds, window)
        trends_csv = _trends_day(rng, rng_seed, truth, i)
        rate = None if i == spec.missing_fx_day else round(rng.uniform(24_000, 26_500), 2)
        truth.fx[ds] = rate
        if i not in write:
            continue
        _write(os.path.join(out_dir, "raw", f"ds={ds}", "part-0.json"),
               "".join(json.dumps(r, ensure_ascii=False) + "\n" for r in rows))
        _write(os.path.join(out_dir, "trends", f"ds={ds}", "trends.csv"), trends_csv)
        if rate is not None:
            rates[ds] = {"result": "success", "base_code": "USD", "rates": {"VND": rate}}
    _write(os.path.join(out_dir, "fx", "rates.json"), json.dumps(rates, sort_keys=True))
    return truth


def raw_path(in_dir: str, ds: str) -> str:
    return os.path.join(in_dir, "raw", f"ds={ds}")


def trends_path(in_dir: str, ds: str) -> str:
    return os.path.join(in_dir, "trends", f"ds={ds}", "trends.csv")


def mapping_path(in_dir: str) -> str:
    return os.path.join(in_dir, "keyword_mapping")


def fx_quotes(in_dir: str) -> dict[str, dict]:
    with open(os.path.join(in_dir, "fx", "rates.json"), encoding="utf-8") as f:
        return json.load(f)
