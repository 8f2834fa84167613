import pytest

from etherscan_contract_crawler_spark.session import get_spark
from etherscan_contract_crawler_spark.sources.seeds import SEED_CSV_SCHEMA
from etherscan_contract_crawler_spark.sources.synthetic import gen_seed_rows


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def tiny_seed_rows():
    return gen_seed_rows(400, n_domains=12, seed=42)


@pytest.fixture(scope="session")
def tiny_seeds_df(spark, tiny_seed_rows):
    return spark.createDataFrame(
        [(r["block"], r["tx_hash"], r["url"], r["priority"]) for r in tiny_seed_rows],
        SEED_CSV_SCHEMA,
    )
