def pytest_configure(config):
    config.addinivalue_line(
        "markers", "spark: starts the benchmark with a Spark session (slow)")
