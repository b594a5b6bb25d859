"""Seeded input generator for the `reports` workload.

Writes the reference marketplace inputs in the shapes the engine's
`Sources` loaders read: JSON-lines events in the `Schemas.event` layout,
a resources JSON-lines dim, the categories HTTP payload, the countries
CSV and the exchange-rates payload. The same seed always gives the same
bytes. Resource popularity is Zipf-skewed, categories and providers are
skewed through the resources they own, and a few percent of resource,
category, country and currency keys are unknown, so every left-join
null path and the royalties drop path see rows.
"""
import bisect
import datetime as dt
import json
import os
import random

CURRENCIES = ["USD", "EUR", "GBP", "JPY", "CAD", "BRL", "INR", "AUD", "CHF", "SEK"]
# JPY and SEK deliberately have no rate: royalties drops their rows.
RATES = {"USD": 1.0, "EUR": 1.08, "GBP": 1.27, "CAD": 0.74, "BRL": 0.2,
         "INR": 0.012, "AUD": 0.66, "CHF": 1.13}
OFFSETS = ["+00:00", "+01:00", "+02:00", "-03:00", "-05:00", "+05:30", "+09:00", "-08:00"]
START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _zipf_cdf(n, s):
    acc, cdf = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cdf.append(acc)
    return [c / acc for c in cdf]


def generate(out_dir, seed, n_events, n_files=16, n_resources=2000, days=60):
    rnd = random.Random(seed)
    os.makedirs(os.path.join(out_dir, "events"), exist_ok=True)

    cats = []
    for k in range(1, 25):
        major = rnd.randint(1, 9)
        raw = f"{major}.{k}" if k % 4 else str(10 + k)
        cats.append({"tenant": "t1", "id": raw, "name": f"Category {k}",
                     "percent": str(rnd.choice([5, 10, 12.5, 15, 20, 25]))})
    with open(os.path.join(out_dir, "categories.json"), "w") as f:
        json.dump({"content": cats}, f, indent=1)
    # the resources dim stores category ids already normalized ("3.1" -> "3.01")
    norm = [c["id"].replace(".", ".0") for c in cats]
    cat_cdf = _zipf_cdf(len(norm), 0.8)

    with open(os.path.join(out_dir, "resources.json"), "w") as f:
        for r in range(n_resources):
            if rnd.random() < 0.03:
                cat = f"99.0{r % 7}"  # a category the payload does not list
            else:
                cat = norm[bisect.bisect_left(cat_cdf, rnd.random())]
            prov = f"p{int(40 * rnd.random() ** 2)}"
            promo = "true" if rnd.random() < 0.1 else "false"
            f.write(json.dumps({"id": f"r{r}", "name": f"Resource {r}", "categoryId": cat,
                                "providerId": prov, "promotion": promo}) + "\n")

    countries = [(f"C{i:02d}", f"Country {i}", CURRENCIES[i % len(CURRENCIES)]) for i in range(30)]
    with open(os.path.join(out_dir, "countries.csv"), "w") as f:
        f.write("CountryCode,Country,Code\n")
        for c in countries:
            f.write(",".join(c) + "\n")
    with open(os.path.join(out_dir, "rates.json"), "w") as f:
        json.dump({"exchange_rate": RATES}, f, indent=1)

    res_cdf = _zipf_cdf(n_resources, 1.05)
    country_codes = [c[0] for c in countries]
    files = [open(os.path.join(out_dir, "events", f"events-{i:03d}.json"), "w")
             for i in range(n_files)]
    span = days * 86400
    for e in range(n_events):
        if rnd.random() < 0.03:
            rid = f"rx{rnd.randrange(50)}"  # unknown to the resources dim
        else:
            rid = f"r{bisect.bisect_left(res_cdf, rnd.random())}"
        country = "ZZ" if rnd.random() < 0.03 else rnd.choice(country_codes)
        t = START + dt.timedelta(seconds=rnd.randrange(span))
        off = rnd.choice(OFFSETS)
        hours, minutes = int(off[1:3]), int(off[4:6])
        sign = 1 if off[0] == "+" else -1
        local = t + sign * dt.timedelta(hours=hours, minutes=minutes)
        processed = t + dt.timedelta(seconds=rnd.randrange(2 * 86400))
        user = "" if rnd.random() < 0.05 else f', "userId": "u{rnd.randrange(5000)}"'
        files[e % n_files].write(
            f'{{"eventId": "e{e}", "eventTime": "{local:%Y-%m-%dT%H:%M:%S}{off}", '
            f'"processTime": "{processed:%Y-%m-%dT%H:%M:%S}+00:00", "resourceId": "{rid}", '
            f'"countryCode": "{country}", "duration": {rnd.randint(1, 3600)}, '
            f'"itemPrice": "{rnd.randint(99, 9999) / 100:.2f}"{user}}}\n')
    for f in files:
        f.close()
