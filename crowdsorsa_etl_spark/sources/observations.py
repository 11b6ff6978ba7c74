"""Synthetic observation fixtures + dimension tables (FIXTURES.md §A).

The reference's real inputs are gitignored zips (``/root/reference/.gitignore``)
so these deterministic generators reconstruct the *input shapes* from the
column usage cited in FIXTURES.md: 2023/2024 season attribute tables with a
WKB geometry column, the municipality-code dimension (a public-data subset of
Statistics Finland municipality codes, the data behind
``geofi::municipality_key_2023`` used at crowdsorsa-etl-2023.R:52), and the
taxon decode dimension.

Generators are pure functions of (seed, n) — same rows every run.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from crowdsorsa_etl_spark.functions.docmodel import TAXA_2023, TAXA_2024
from crowdsorsa_etl_spark.functions.geo import polygons_to_wkb
from crowdsorsa_etl_spark.schemas import MUNICIPALITY_KEY, OBSERVATIONS_2023
from crowdsorsa_etl_spark.sources.local import local_frame

#: Statistics Finland municipality codes, FULL 2023 classification (public
#: data, 309 municipalities — the table behind ``geofi::municipality_key_2023``
#: used at crowdsorsa-etl-2023.R:52). Codes are unpadded strings to match the
#: reference inputs' ``kuntakoodi``. Contains "20" (Akaa) but not "864"
#: (Toijala, merged into Akaa 2007 — the reason for the reference's recode at
#: crowdsorsa-etl-2023.R:51).
MUNICIPALITIES: list[tuple[str, str]] = [
    ("5", "Alajärvi"), ("9", "Alavieska"), ("10", "Alavus"), ("16", "Asikkala"),
    ("18", "Askola"), ("19", "Aura"), ("20", "Akaa"), ("35", "Brändö"),
    ("43", "Eckerö"), ("46", "Enonkoski"), ("47", "Enontekiö"), ("49", "Espoo"),
    ("50", "Eura"), ("51", "Eurajoki"), ("52", "Evijärvi"), ("60", "Finström"),
    ("61", "Forssa"), ("62", "Föglö"), ("65", "Geta"), ("69", "Haapajärvi"),
    ("71", "Haapavesi"), ("72", "Hailuoto"), ("74", "Halsua"), ("75", "Hamina"),
    ("76", "Hammarland"), ("77", "Hankasalmi"), ("78", "Hanko"),
    ("79", "Harjavalta"), ("81", "Hartola"), ("82", "Hattula"),
    ("86", "Hausjärvi"), ("90", "Heinävesi"), ("91", "Helsinki"),
    ("92", "Vantaa"), ("97", "Hirvensalmi"), ("98", "Hollola"),
    ("102", "Huittinen"), ("103", "Humppila"), ("105", "Hyrynsalmi"),
    ("106", "Hyvinkää"), ("108", "Hämeenkyrö"), ("109", "Hämeenlinna"),
    ("111", "Heinola"), ("139", "Ii"), ("140", "Iisalmi"), ("142", "Iitti"),
    ("143", "Ikaalinen"), ("145", "Ilmajoki"), ("146", "Ilomantsi"),
    ("148", "Inari"), ("149", "Inkoo"), ("151", "Isojoki"), ("152", "Isokyrö"),
    ("153", "Imatra"), ("165", "Janakkala"), ("167", "Joensuu"),
    ("169", "Jokioinen"), ("170", "Jomala"), ("171", "Joroinen"),
    ("172", "Joutsa"), ("176", "Juuka"), ("177", "Juupajoki"), ("178", "Juva"),
    ("179", "Jyväskylä"), ("181", "Jämijärvi"), ("182", "Jämsä"),
    ("186", "Järvenpää"), ("202", "Kaarina"), ("204", "Kaavi"),
    ("205", "Kajaani"), ("208", "Kalajoki"), ("211", "Kangasala"),
    ("213", "Kangasniemi"), ("214", "Kankaanpää"), ("216", "Kannonkoski"),
    ("217", "Kannus"), ("218", "Karijoki"), ("224", "Karkkila"),
    ("226", "Karstula"), ("230", "Karvia"), ("231", "Kaskinen"),
    ("232", "Kauhajoki"), ("233", "Kauhava"), ("235", "Kauniainen"),
    ("236", "Kaustinen"), ("239", "Keitele"), ("240", "Kemi"),
    ("241", "Keminmaa"), ("244", "Kempele"), ("245", "Kerava"),
    ("249", "Keuruu"), ("250", "Kihniö"), ("256", "Kinnula"),
    ("257", "Kirkkonummi"), ("260", "Kitee"), ("261", "Kittilä"),
    ("263", "Kiuruvesi"), ("265", "Kivijärvi"), ("271", "Kokemäki"),
    ("272", "Kokkola"), ("273", "Kolari"), ("275", "Konnevesi"),
    ("276", "Kontiolahti"), ("280", "Korsnäs"), ("284", "Koski Tl"),
    ("285", "Kotka"), ("286", "Kouvola"), ("287", "Kristiinankaupunki"),
    ("288", "Kruunupyy"), ("290", "Kuhmo"), ("291", "Kuhmoinen"),
    ("295", "Kumlinge"), ("297", "Kuopio"), ("300", "Kuortane"),
    ("301", "Kurikka"), ("304", "Kustavi"), ("305", "Kuusamo"),
    ("309", "Outokumpu"), ("312", "Kyyjärvi"), ("316", "Kärkölä"),
    ("317", "Kärsämäki"), ("318", "Kökar"), ("320", "Kemijärvi"),
    ("322", "Kemiönsaari"), ("398", "Lahti"), ("399", "Laihia"),
    ("400", "Laitila"), ("402", "Lapinlahti"), ("403", "Lappajärvi"),
    ("405", "Lappeenranta"), ("407", "Lapinjärvi"), ("408", "Lapua"),
    ("410", "Laukaa"), ("416", "Lemi"), ("417", "Lemland"),
    ("418", "Lempäälä"), ("420", "Leppävirta"), ("421", "Lestijärvi"),
    ("422", "Lieksa"), ("423", "Lieto"), ("425", "Liminka"), ("426", "Liperi"),
    ("430", "Loimaa"), ("433", "Loppi"), ("434", "Loviisa"),
    ("435", "Luhanka"), ("436", "Lumijoki"), ("438", "Lumparland"),
    ("440", "Luoto"), ("441", "Luumäki"), ("444", "Lohja"),
    ("445", "Parainen"), ("475", "Maalahti"), ("478", "Maarianhamina"),
    ("480", "Marttila"), ("481", "Masku"), ("483", "Merijärvi"),
    ("484", "Merikarvia"), ("489", "Miehikkälä"), ("491", "Mikkeli"),
    ("494", "Muhos"), ("495", "Multia"), ("498", "Muonio"),
    ("499", "Mustasaari"), ("500", "Muurame"), ("503", "Mynämäki"),
    ("504", "Myrskylä"), ("505", "Mäntsälä"), ("507", "Mäntyharju"),
    ("508", "Mänttä-Vilppula"), ("529", "Naantali"), ("531", "Nakkila"),
    ("535", "Nivala"), ("536", "Nokia"), ("538", "Nousiainen"),
    ("541", "Nurmes"), ("543", "Nurmijärvi"), ("545", "Närpiö"),
    ("560", "Orimattila"), ("561", "Oripää"), ("562", "Orivesi"),
    ("563", "Oulainen"), ("564", "Oulu"), ("576", "Padasjoki"),
    ("577", "Paimio"), ("578", "Paltamo"), ("580", "Parikkala"),
    ("581", "Parkano"), ("583", "Pelkosenniemi"), ("584", "Perho"),
    ("588", "Pertunmaa"), ("592", "Petäjävesi"), ("593", "Pieksämäki"),
    ("595", "Pielavesi"), ("598", "Pietarsaari"), ("599", "Pedersören kunta"),
    ("601", "Pihtipudas"), ("604", "Pirkkala"), ("607", "Polvijärvi"),
    ("608", "Pomarkku"), ("609", "Pori"), ("611", "Pornainen"),
    ("614", "Posio"), ("615", "Pudasjärvi"), ("616", "Pukkila"),
    ("619", "Punkalaidun"), ("620", "Puolanka"), ("623", "Puumala"),
    ("624", "Pyhtää"), ("625", "Pyhäjoki"), ("626", "Pyhäjärvi"),
    ("630", "Pyhäntä"), ("631", "Pyhäranta"), ("635", "Pälkäne"),
    ("636", "Pöytyä"), ("638", "Porvoo"), ("678", "Raahe"),
    ("680", "Raisio"), ("681", "Rantasalmi"), ("683", "Ranua"),
    ("684", "Rauma"), ("686", "Rautalampi"), ("687", "Rautavaara"),
    ("689", "Rautjärvi"), ("691", "Reisjärvi"), ("694", "Riihimäki"),
    ("697", "Ristijärvi"), ("698", "Rovaniemi"), ("700", "Ruokolahti"),
    ("702", "Ruovesi"), ("704", "Rusko"), ("707", "Rääkkylä"),
    ("710", "Raasepori"), ("729", "Saarijärvi"), ("732", "Salla"),
    ("734", "Salo"), ("736", "Saltvik"), ("738", "Sauvo"),
    ("739", "Savitaipale"), ("740", "Savonlinna"), ("742", "Savukoski"),
    ("743", "Seinäjoki"), ("746", "Sievi"), ("747", "Siikainen"),
    ("748", "Siikajoki"), ("749", "Siilinjärvi"), ("751", "Simo"),
    ("753", "Sipoo"), ("755", "Siuntio"), ("758", "Sodankylä"),
    ("759", "Soini"), ("761", "Somero"), ("762", "Sonkajärvi"),
    ("765", "Sotkamo"), ("766", "Sottunga"), ("768", "Sulkava"),
    ("771", "Sund"), ("777", "Suomussalmi"), ("778", "Suonenjoki"),
    ("781", "Sysmä"), ("783", "Säkylä"), ("785", "Vaala"),
    ("790", "Sastamala"), ("791", "Siikalatva"), ("831", "Taipalsaari"),
    ("832", "Taivalkoski"), ("833", "Taivassalo"), ("834", "Tammela"),
    ("837", "Tampere"), ("844", "Tervo"), ("845", "Tervola"),
    ("846", "Teuva"), ("848", "Tohmajärvi"), ("849", "Toholampi"),
    ("850", "Toivakka"), ("851", "Tornio"), ("853", "Turku"),
    ("854", "Pello"), ("857", "Tuusniemi"), ("858", "Tuusula"),
    ("859", "Tyrnävä"), ("886", "Ulvila"), ("887", "Urjala"),
    ("889", "Utajärvi"), ("890", "Utsjoki"), ("892", "Uurainen"),
    ("893", "Uusikaarlepyy"), ("895", "Uusikaupunki"), ("905", "Vaasa"),
    ("908", "Valkeakoski"), ("915", "Varkaus"), ("918", "Vehmaa"),
    ("921", "Vesanto"), ("922", "Vesilahti"), ("924", "Veteli"),
    ("925", "Vieremä"), ("927", "Vihti"), ("931", "Viitasaari"),
    ("934", "Vimpeli"), ("935", "Virolahti"), ("936", "Virrat"),
    ("941", "Vårdö"), ("946", "Vöyri"), ("976", "Ylitornio"),
    ("977", "Ylivieska"), ("980", "Ylöjärvi"), ("981", "Ypäjä"),
    ("989", "Ähtäri"), ("992", "Äänekoski"),
]

def _mangle(taxon: str) -> str:
    """Simulate the double-encoding the 2023 file exhibits (ö→Ã¶, ä→Ã¤)."""
    return taxon.replace("ö", "Ã¶").replace("ä", "Ã¤")


def _square(cx: float, cy: float, half: float) -> list[list[tuple[float, float]]]:
    return [
        [
            (cx - half, cy - half),
            (cx + half, cy - half),
            (cx + half, cy + half),
            (cx - half, cy + half),
            (cx - half, cy - half),
        ]
    ]


def _unclosed_square(cx: float, cy: float, half: float) -> list[list[tuple[float, float]]]:
    ring = _square(cx, cy, half)[0]
    return [ring[:-1]]  # drop the closing point → "invalid" for make_valid


def observation_rows_2023(n: int = 200, seed: int = 7) -> list[tuple]:
    """Pure-Python 2023 fixture rows (no Spark) — shared by the Spark source
    below and the parquet persistence in parity_oracles.py, so the DuckDB
    oracle reads byte-identical inputs."""
    rng = random.Random(seed)
    taxa = list(TAXA_2023) + ["tuntematonlaji"]  # includes one unknown → NULL id
    rows = []
    for i in range(n):
        code, _name = MUNICIPALITIES[rng.randrange(len(MUNICIPALITIES))]
        if i % 17 == 0:
            code = "864"  # exercises the recode → "20"
        taxon = taxa[rng.randrange(len(taxa))]
        controlled = rng.random() < 0.4
        # WGS84 squares around Finland; a degenerate zero-area one every 23rd
        lon = 22.0 + rng.random() * 8.0
        lat = 60.0 + rng.random() * 5.0
        half = 0.0 if i % 23 == 0 else 0.0001 + rng.random() * 0.0005
        poly = _square(lon, lat, half) if i % 11 else _unclosed_square(lon, lat, half)
        rows.append(
            (
                f"OBS23-{i:05d}",
                code,
                f"2023-0{rng.randrange(5, 9)}-{rng.randrange(10, 28)}"
                f"T{rng.randrange(6, 20):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
                _mangle(taxon),
                f"2023-09-{rng.randrange(10, 28)}" if controlled else None,
                polygons_to_wkb([poly]),
                None,
            )
        )
    return rows


def observations_2023(spark: SparkSession, n: int = 200, seed: int = 7) -> DataFrame:
    return local_frame(spark, observation_rows_2023(n, seed), OBSERVATIONS_2023)


def observation_rows_2024(n: int = 200, seed: int = 11) -> list[tuple]:
    """Pure-Python 2024 fixture rows (no Spark)."""
    rng = random.Random(seed)
    taxa = list(TAXA_2024) + ["tuntematonlaji"]
    rows = []
    for i in range(n):
        _code, name = MUNICIPALITIES[rng.randrange(len(MUNICIPALITIES))]
        taxon = taxa[rng.randrange(len(taxa))]
        # every 13th row carries the 2026 year typo (crowdsorsa-etl-2024.R:36)
        year = "2026" if i % 13 == 0 else "2024"
        controlled = rng.random() < 0.4
        # EUREF/TM35FIN planar meters
        x = 200000.0 + rng.random() * 500000.0
        y = 6700000.0 + rng.random() * 800000.0
        half = 1.0 + rng.random() * 40.0
        rows.append(
            (
                f"OBS24-{i:05d}",
                name,
                f"{year}-0{rng.randrange(5, 9)}-{rng.randrange(10, 28)}",
                (f"{year}-09-{rng.randrange(10, 28)}" if controlled else None),
                taxon.capitalize() if i % 3 == 0 else taxon,
                round(rng.choice([1.0, 2.0, 2.35, 3.5, 4.25, 5.0]), 2),
                polygons_to_wkb([_square(x, y, half)]),
                None,
            )
        )
    return rows


def municipality_dim(spark: SparkSession) -> DataFrame:
    """The broadcast dimension replacing geofi::municipality_key_2023."""
    return local_frame(spark, MUNICIPALITIES, MUNICIPALITY_KEY)
