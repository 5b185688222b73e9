import pandas as pd
import pytest

from watermark_detector_spark.fixtures import FixtureConfig, generate
from watermark_detector_spark.session import DEFAULT_CPUS, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wmd-tests", cpus=DEFAULT_CPUS)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_cfg():
    return FixtureConfig(n_docs=2000)


@pytest.fixture(scope="session")
def fixture_paths(fixture_cfg, tmp_path_factory):
    out = tmp_path_factory.mktemp("fixtures")
    return generate(fixture_cfg, str(out))


def sorted_pdf(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.sort_values(keys).reset_index(drop=True)
