def pytest_configure(config):
    config.addinivalue_line("markers", "run: starts the benchmark, and so Spark; about a minute each")
